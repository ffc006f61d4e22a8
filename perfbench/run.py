#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, three workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the repository root. The first run builds the engine and the
Scala harness with sbt (offline) into the checkout; later runs reuse the
build. Inputs are generated from the seed and cached under `.bench_build/`.

Workloads (see BENCHMARK.json for why each exists):
  transform        Engine.transformToNdjson over a seeded GeoJSON corpus
  catalogue_heavy  three iterative-loop / custom-kernel catalogue queries
  catalogue_light  the 41 reference-surface and relational queries; not in
                   BENCHMARK.json (its runs would not fit the benchmark's
                   time budget), but runnable by hand

A single JVM runs a closed loop with one client on local[<cpus>]. Set-up
(`setup_s`) runs from JVM start through session build, function
registration and one untimed warm-up pass; then at least three measured
passes run, and more until --seconds have passed. Every result is fully
materialized and checked against expectations recorded by the generators
(DuckDB oracle digests for the catalogue, generator counts and a digest of
the sorted NDJSON lines for the transform).

With --trace 0 the last line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of one traced pass (spans and
a SparkListener), and the tracing overhead against one untraced pass is
recorded in the artifact. The smoke check runs the heavy queries once on
a scale-0.001 fixture with no closeness landmark and reports the failures.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the generators are imported from this directory

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, '.bench_build')
WORKLOADS = ('transform', 'catalogue_heavy', 'catalogue_light')
TRANSFORM_SIZE = dict(buildings=5000, toponyms=1000, sheets=400, layers=12)
CATALOGUE_SF = 0.005
SMOKE_SF = 0.001
RUN_DEADLINE_S = 170  # a run, after the build, ends within this
JVM_OPTS = [
    '-Xmx3g', '-XX:+UseG1GC', '-Dspark.ui.enabled=false',
    '-Dspark.sql.session.timeZone=UTC',
] + [x for p in (
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar') for x in ('--add-opens', p + '=ALL-UNNAMED')]


def fail(msg):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(2)


def sources_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, 'src', 'main'), os.path.join(HERE, 'src'),
                os.path.join(ROOT, 'build.sbt'), os.path.join(HERE, 'build.sbt')):
        for dirpath, _, files in os.walk(top) if os.path.isdir(top) else [('', [], [top])]:
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    cp_file = os.path.join(BUILD, 'classpath.txt')
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= sources_mtime():
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault('COURSIER_MODE', 'offline')
    if '-Dsbt.offline' not in env.get('SBT_OPTS', ''):
        env['SBT_OPTS'] = (env.get('SBT_OPTS', '') + ' -Dsbt.offline=true').strip()
    log = os.path.join(BUILD, 'build.log')
    with open(log, 'w') as out:
        proc = subprocess.run(
            ['sbt', '--batch', '-Dsbt.log.noformat=true', '-Dsbt.server.forcestart=false',
             'export perfbench/Runtime/fullClasspath'],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
    out_lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not out_lines or 'classes' not in out_lines[-1]:
        with open(log, 'a') as f:
            f.write(proc.stdout)
        fail(f'build failed (exit {proc.returncode}); see {log}')
    with open(cp_file, 'w') as f:
        f.write(out_lines[-1])
    for name in os.listdir(BUILD):
        if name.startswith('oracle-sql-'):
            os.remove(os.path.join(BUILD, name))
    return out_lines[-1]


def java(cp, args, log, timeout):
    with open(log, 'w') as out:
        proc = subprocess.run(
            ['java'] + JVM_OPTS + [f'-Djava.io.tmpdir={BUILD}/tmp', '-cp', cp,
                                   'perfbench.Harness'] + args,
            cwd=ROOT, stdout=out, stderr=subprocess.STDOUT, timeout=timeout)
    if proc.returncode != 0:
        fail(f'harness exited with {proc.returncode}; see {log}')


def oracle_sql(cp, workload):
    path = os.path.join(BUILD, f'oracle-sql-{workload}.json')
    if not os.path.exists(path):
        java(cp, ['--workload', workload, '--dump-oracle', path],
             os.path.join(BUILD, 'logs', f'oracle-sql-{workload}.log'), 120)
    with open(path) as f:
        return json.load(f)


def inputs(cp, workload, seed, smoke=False):
    """Generate (or reuse) the seeded inputs; return (data dir, expect file)."""
    sys.path.insert(0, HERE)
    if workload == 'transform':
        data = os.path.join(BUILD, 'inputs', f'transform-{TRANSFORM_SIZE["buildings"]}-{seed}')
        expect = os.path.join(data, 'expect.json')
        if not os.path.exists(expect):
            import gen_transform
            want = gen_transform.generate(seed, data, **TRANSFORM_SIZE)
            write_json(expect, want)
        return data, expect
    import gen_catalogue
    sf = SMOKE_SF if smoke else CATALOGUE_SF
    data = os.path.join(BUILD, 'inputs', f'catalogue-{"nolandmark-" if smoke else ""}{sf}-{seed}')
    marker = os.path.join(data, 'tables.done')
    if not os.path.exists(marker):
        gen_catalogue.generate(seed, sf, data, landmarks=not smoke)
        open(marker, 'w').close()
    expect = os.path.join(data, f'expect-{workload}.json')
    if not os.path.exists(expect):
        digests, errors = gen_catalogue.oracle(data, oracle_sql(cp, workload)['oracle_sql'])
        write_json(expect, {'oracle': digests, 'oracle_errors': errors})
    return data, expect


def write_json(path, value):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + '.tmp'
    with open(tmp, 'w') as f:
        json.dump(value, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def tree_id():
    """The commit SHA (+ "-dirty"), or a digest of the sources outside git."""
    try:
        sha = subprocess.run(['git', 'rev-parse', 'HEAD'], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode == 0:
            dirty = subprocess.run(['git', 'status', '--porcelain', '--untracked-files=no'],
                                   cwd=ROOT, capture_output=True, text=True, timeout=10)
            return sha.stdout.strip() + ('-dirty' if dirty.stdout.strip() else '')
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha1()
    for top in ('src/main', 'perfbench'):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs[:] = sorted(d for d in dirs if d not in ('target', 'project'))
            for f in sorted(files):
                if f.endswith(('.scala', '.py', '.sbt')):
                    with open(os.path.join(dirpath, f), 'rb') as fh:
                        h.update(f.encode() + fh.read())
    return 'tree-' + h.hexdigest()[:12]


def fs_type(path):
    """Filesystem type of the mount holding `path`, e.g. tmpfs."""
    best, kind = '', 'unknown'
    try:
        with open('/proc/mounts') as f:
            for line in f:
                mnt, typ = line.split()[1:3]
                if path.startswith(mnt) and len(mnt) > len(best):
                    best, kind = mnt, typ
    except OSError:
        pass
    return kind


def end_to_end(res, workload, features):
    """Every metric the run prints; BENCHMARK.json gates a subset."""
    passes = [p for p in res['passes'] if not p['traced']]
    wall = statistics.median(p['wall_s'] for p in passes)
    m = {
        'setup_s': (res['setup_s'], 's'),
        'wall_s': (wall, 's'),
        'cpu_s': (statistics.median(p['cpu_s'] for p in passes), 's'),
    }
    if workload == 'transform':
        m['features_per_s'] = (features / wall, '1/s')
    else:
        ops = [o['wall_s'] for p in passes for o in p['ops']]
        m['query_p50_s'] = (statistics.median(ops), 's')
        if len(ops) > 1:
            m['query_p75_s'] = (statistics.quantiles(ops, n=4, method='inclusive')[2], 's')
    m['error_rate'] = (res['failed'] / res['attempted'], 'share')
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', choices=WORKLOADS)
    ap.add_argument('--seed', type=int, default=1)
    ap.add_argument('--seconds', type=float, default=12)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--smoke', action='store_true')
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error('--workload is required')
    if not (os.path.isfile(os.path.join(ROOT, 'build.sbt'))
            and os.path.isdir(os.path.join(ROOT, 'src', 'main', 'scala', 'graft'))):
        fail(f'no engine sources next to {HERE}: run from a full checkout')
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        spec = json.load(f)
    for d in ('logs', 'tmp', 'results', 'work'):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)

    cp = build()
    deadline = time.time() + RUN_DEADLINE_S
    workload = 'catalogue_heavy' if a.smoke else a.workload
    data, expect = inputs(cp, workload, a.seed, smoke=a.smoke)
    tag = 'smoke' if a.smoke else f'{workload}-seed{a.seed}-trace{a.trace}'
    work = os.path.join(BUILD, 'work', tag)
    result = os.path.join(BUILD, 'results', tag + '.harness.json')
    load_before = os.getloadavg()
    started = time.time()
    java(cp, ['--workload', workload, '--data', data, '--work', work, '--expect', expect,
              '--result', result, '--seconds', '0' if a.smoke else str(a.seconds),
              '--trace', str(a.trace)],
         os.path.join(BUILD, 'logs', tag + '.log'), max(1, deadline - time.time()))
    with open(result) as f:
        res = json.load(f)
    with open(expect) as f:
        features = json.load(f).get('features')
    env = {
        'tree': tree_id(), 'cpus': res['jvm']['cpus'],
        'shuffle_partitions': res['jvm']['shuffle_partitions'],
        'spark_local_dir': res['jvm']['spark_local_dir'],
        'spark_local_dir_fs': fs_type(res['jvm']['spark_local_dir']),
        'java': res['jvm']['java_version'], 'xmx_mb': res['jvm']['xmx_mb'],
        'graft_settings': res['jvm']['graft_settings'],
        'load_avg_before': load_before, 'load_avg_after': os.getloadavg(),
        'run_s': time.time() - started,
    }

    if a.smoke:
        print(f"smoke (sf{SMOKE_SF}, no closeness landmark): {res['failed']} failed "
              f"out of {res['attempted']}")
        for op in res['failures']:
            print(f"  {op['name']}: {op['error']}")
        write_json(os.path.join(BUILD, 'results', 'smoke.json'), {'env': env, 'result': res})
        sys.exit(0 if res['attempted'] == len(res['warmup_ops']) else 1)

    e2e = end_to_end(res, workload, features)
    if a.trace:
        names = [m['name'] for m in spec['per_layer']]
        units = {m['name']: m['unit'] for m in spec['per_layer']}
        metrics = {n: {'value': float(res['layer'].get(n, 0.0)), 'unit': units[n]}
                   for n in names}
    else:
        metrics = {m['name']: {'value': e2e[m['name']][0], 'unit': m['unit']}
                   for m in spec['end_to_end']}
    write_json(os.path.join(BUILD, 'results', tag + '.json'),
               {'env': env, 'end_to_end': e2e, 'metrics': metrics, 'result': res})

    print(f'workload {workload}  seed {a.seed}  trace {a.trace}  tree {env["tree"]}  '
          f'cpus {env["cpus"]}  local dir {env["spark_local_dir_fs"]}')
    for name, (value, unit) in e2e.items():
        print(f'  {name:<16} {value:12.4f} {unit}')
    if a.trace:
        print(f"  tracing overhead  {res['layer'].get('trace.overhead_share', 0.0):+.3f} "
              f"(traced {res['layer'].get('trace.traced_wall_s', 0.0):.3f} s vs untraced "
              f"{res['layer'].get('trace.untraced_wall_s', 0.0):.3f} s)")
    for op in res['failures']:
        print(f"  FAILED {op['name']}: {op['error']}", file=sys.stderr)
    correct = res['failed'] == 0
    if not correct:
        print(f"perfbench: {res['failed']} of {res['attempted']} operations failed or "
              f"did not match their expected output", file=sys.stderr)
    print(json.dumps({'correct': correct, 'attempted': res['attempted'],
                      'failed': res['failed'], 'metrics': metrics}))
    sys.exit(0 if correct else 1)


if __name__ == '__main__':
    main()
