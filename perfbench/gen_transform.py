"""Seeded GeoJSON landing corpus for the transform workload, with the
expected output computed independently of the engine.

`generate(seed, out_dir, buildings, toponyms, sheets, layers)` writes
`consolidated.geojson`, `toponyms.geojson`, `sheets.geojson` and
`layer-boroughs.json`, and returns the expectations: NDJSON line counts per
record type, object type, relation type and log reason, and the SHA-256 of
the sorted NDJSON lines.

The corpus exercises every branch of the transform:
- about 2% duplicate building ids (first seen wins, before the ring check);
- about 1% degenerate outer rings (< 4 points: the building is dropped);
- addresses that are 'NONE', null, or 1-3 elements, some without a geometry;
- a layer with no borough entry and one with an empty borough;
- a toponym layer with no indexed buildings;
- Polygon toponyms, and duplicate toponyms;
- Point toponyms with 0, 1 and N (2-3 nested buildings) spatial matches.

Buildings are axis-aligned rectangles in per-layer grid cells, and probe
points sit strictly inside or strictly outside every rectangle, so
containment has one answer under any point-in-polygon edge rule.
"""
import hashlib
import json
import os
import random

ALPHABET = '0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ'
BOROUGHS = ['Manhattan', 'Brooklyn', 'Bronx', 'Queens', 'Staten Island']
COLORS = ['pink', 'yellow', 'blue', 'green', 'red', 'brown']
NAMES = ['P.S. 147', 'Ferry House', 'Grace Church', 'Hotel', 'Stable', 'Foundry',
         'Bank', 'Mill', 'Armory', 'Theatre', 'Market', 'Fire Co. 12']
CELL = 0.001  # degrees per grid cell
X0, Y0 = -74.0, 40.6


def base62(hex_digest):
    n = int(hex_digest, 16)
    if n == 0:
        return '0'
    out = []
    while n:
        n, r = divmod(n, 62)
        out.append(ALPHABET[r])
    return ''.join(reversed(out))


def num(x):
    """JSON / JavaScript rendering of a coordinate (never integral here)."""
    return repr(x)


def coords_json(c):
    if isinstance(c, list):
        return '[' + ','.join(coords_json(x) for x in c) + ']'
    return num(c)


def js_join(c):
    if isinstance(c, list):
        return ','.join(js_join(x) for x in c)
    return num(c)


def geometry_json(gtype, coords):
    return '{"type":"%s","coordinates":%s}' % (gtype, coords_json(coords))


def rect(cx, cy, inset):
    x0, y0 = X0 + cx * CELL, Y0 + cy * CELL
    a, b = round(x0 + inset, 6), round(x0 + CELL - inset, 6)
    c, d = round(y0 + inset, 6), round(y0 + CELL - inset, 6)
    return [[[a, c], [b, c], [b, d], [a, d], [a, c]]], (a, b, c, d)


def obj_line(oid, otype, year, name, data, geometry):
    fields = ['"id":%s' % json.dumps(oid), '"type":"%s"' % otype,
              '"validSince":%d' % year, '"validUntil":%d' % year]
    if name is not None:
        fields.append('"name":%s' % json.dumps(name))
    parts = []
    for key in ('number', 'sheetId', 'layerId', 'mapId', 'colors', 'borough'):
        v = data.get(key)
        if v is not None:
            parts.append('"%s":%s' % (key, json.dumps(v, separators=(',', ':'))))
    fields.append('"data":{%s}' % ','.join(parts))
    if geometry is not None:
        fields.append('"geometry":%s' % geometry)
    return '{"type":"object","obj":{%s}}' % ','.join(fields)


def rel_line(src, dst, rtype):
    return '{"type":"relation","obj":{"from":%s,"to":%s,"type":"%s"}}' % (
        json.dumps(src), json.dumps(dst), rtype)


def log_line(error):
    return '{"type":"log","obj":{"error":%s}}' % json.dumps(error)


def feature_collection(path, features):
    with open(path, 'w') as f:
        f.write('{"type":"FeatureCollection","features":[')
        f.write(','.join(features))
        f.write(']}')


def generate(seed, out, buildings, toponyms, sheets, layers):
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)

    # layers: the last has no borough entry, the one before an empty
    # borough, and layer 0 has toponyms but no buildings at all
    layer_ids = [1100 + 37 * i for i in range(layers)]
    years = {lid: 1850 + 3 * i for i, lid in enumerate(layer_ids)}
    borough = {lid: BOROUGHS[i % len(BOROUGHS)] for i, lid in enumerate(layer_ids[:-2])}
    borough[layer_ids[-2]] = ''
    unindexed = layer_ids[0]
    with open(os.path.join(out, 'layer-boroughs.json'), 'w') as f:
        json.dump([{'id': lid, 'borough': b} for lid, b in borough.items()], f)

    sheet_rows = []  # (sheet id, map id, layer id)
    for i in range(sheets):
        sheet_rows.append((5000 + i, 20000 + 3 * i, layer_ids[i % layers]))
    feature_collection(os.path.join(out, 'sheets.geojson'), [
        '{"type":"Feature","properties":{"id":%d,"map_id":"%d","layer":'
        '{"external_id":%d,"year":"%d"}},"geometry":null}' % (s, m, lid, years[lid])
        for s, m, lid in sheet_rows])
    sheet = {s: (m, lid) for s, m, lid in sheet_rows}
    building_sheets = [s for s, _, lid in sheet_rows if lid != unindexed]

    # one grid per layer; each building takes a cell, and some cells hold
    # two or three nested buildings (N spatial matches)
    side = int((buildings / (layers - 1) * 1.3) ** 0.5) + 2
    last_cell = {}
    placed = {}  # (layer, cx, cy) -> buildings placed there
    cells = {}   # (layer, cx, cy) -> [(bbox, id)] of indexed buildings
    out_lines = []
    counts = {}

    def emit(line, kind):
        out_lines.append(line)
        for key in (kind.split(':')[0], kind):
            counts[key] = counts.get(key, 0) + 1

    feats = []
    seen = set()
    ids = []
    for i in range(buildings):
        s = rng.choice(building_sheets)
        map_id, lid = sheet[s]
        if ids and rng.random() < 0.02:
            bid = rng.choice(ids)  # duplicate id: suppressed, first seen wins
        else:
            bid = str(100000 + i)
            ids.append(bid)
        k = last_cell.get(lid, -1)
        if not (k >= 0 and placed[(lid, k % side, k // side)] < 3 and rng.random() < 0.08):
            k += 1  # a fresh cell; otherwise nest inside the last one
            last_cell[lid] = k
        cell = (lid, k % side, k // side)
        placed[cell] = placed.get(cell, 0) + 1
        ring, bbox = rect(cell[1], cell[2], 0.0001 * placed[cell])
        degenerate = rng.random() < 0.01
        if degenerate:
            ring = [ring[0][:3]]
        numbers = []
        r = rng.random()
        if r < 0.2:
            address = '"NONE"'
        elif r < 0.3:
            address = 'null'
        else:
            numbers = [str(rng.randint(1, 400)) for _ in range(rng.randint(1, 3))]
            address = '[' + ','.join('{"flag_value":"%s"}' % n for n in numbers) + ']'
        n_points = len(numbers) - (1 if numbers and rng.random() < 0.1 else 0)
        points = [[round(bbox[0] + 0.0001 * (j + 1), 6), round(bbox[2] + 0.00005, 6)]
                  for j in range(n_points)]
        r = rng.random()
        color = None if r < 0.3 else ('' if r < 0.4 else ','.join(
            rng.sample(COLORS, rng.randint(1, 3))))
        geoms = [geometry_json('Polygon', ring)] + [geometry_json('Point', p) for p in points]
        feats.append(
            '{"type":"Feature","properties":{"id":"%s","sheet_id":%d,"map_id":"%d",'
            '"consensus_color":%s,"consensus_address":%s},"geometry":'
            '{"type":"GeometryCollection","geometries":[%s]}}' % (
                bid, s, map_id, 'null' if color is None else json.dumps(color),
                address, ','.join(geoms)))
        # reference semantics: first seen wins, then the ring check
        if bid in seen:
            continue
        seen.add(bid)
        if degenerate:
            continue
        cells.setdefault(cell, []).append((bbox, bid))
        year, b = years[lid], borough.get(lid)
        data = {'sheetId': s, 'layerId': lid, 'mapId': map_id, 'borough': b}
        emit(obj_line(bid, 'st:Building', year, None,
                      dict(data, colors=color.split(',') if color else None),
                      geometry_json('Polygon', ring)), 'object:st:Building')
        emit(rel_line(bid, 'mapwarper/%d' % map_id, 'st:in'), 'relation:st:in')
        emit(rel_line(bid, 'mapwarper/layer-%d' % lid, 'st:in'), 'relation:st:in')
        if not b:
            emit(log_line("Can't find borough for layer %d" % lid), 'log:no_borough')
        for j, n in enumerate(numbers):
            aid = '%s-%d' % (bid, j + 1)
            geom = geometry_json('Point', points[j]) if j < n_points else None
            emit(obj_line(aid, 'st:Address', year, n, dict(data, number=n), geom),
                 'object:st:Address')
            emit(rel_line(aid, bid, 'st:in'), 'relation:st:in')
    feature_collection(os.path.join(out, 'consolidated.geojson'), feats)

    # toponyms: Points inside a cell's innermost building (1..N matches),
    # in a cell's margin (0 matches), a few Polygons, a few duplicates
    layer_cells = {}
    for (lid, cx, cy) in sorted(cells):
        layer_cells.setdefault(lid, []).append((cx, cy))
    feats = []
    seen = set()
    previous = []
    for i in range(toponyms):
        if previous and rng.random() < 0.01:
            s, gtype, coords = rng.choice(previous)
            name = rng.choice(NAMES)
        else:
            s = rng.choice(sheet_rows)[0]
            lid = sheet[s][1]
            name = '%s %d' % (rng.choice(NAMES), i)
            r = rng.random()
            if r < 0.02:
                gtype = 'Polygon'
                coords = rect(rng.randrange(side), rng.randrange(side), 0.0004)[0]
            else:
                gtype = 'Point'
                options = layer_cells.get(lid)
                cx, cy = rng.choice(options) if options else (
                    rng.randrange(side), rng.randrange(side))
                x0, y0 = X0 + cx * CELL, Y0 + cy * CELL
                lo, hi = (0.00042, 0.00058) if r < 0.75 else (0.00002, 0.00008)
                # inside the innermost of up to 3 nested rectangles, or in
                # the cell margin outside every rectangle
                coords = [round(x0 + rng.uniform(lo, hi), 7),
                          round(y0 + rng.uniform(lo, hi), 7)]
            previous.append((s, gtype, coords))
        feats.append('{"type":"Feature","properties":{"sheet_id":%d,"consensus":%s},'
                     '"geometry":%s}' % (s, json.dumps(name), geometry_json(gtype, coords)))
        tid = 'toponym-%d-%s' % (s, base62(hashlib.md5(js_join(coords).encode()).hexdigest()))
        if tid in seen:
            continue
        seen.add(tid)
        map_id, lid = sheet[s]
        year, b = years[lid], borough.get(lid)
        data = {'sheetId': s, 'layerId': lid, 'mapId': map_id, 'borough': b}
        emit(obj_line(tid, 'st:Building', year, name, data, geometry_json(gtype, coords)),
             'object:st:Building')
        emit(rel_line(tid, 'mapwarper/%d' % map_id, 'st:in'), 'relation:st:in')
        emit(rel_line(tid, 'mapwarper/layer-%d' % lid, 'st:in'), 'relation:st:in')
        if not b:
            emit(log_line("Can't find borough for layer %d" % lid), 'log:no_borough')
        if gtype != 'Point':
            continue
        if lid not in layer_cells:
            emit(log_line('Error computing intersection for toponym %s' % tid), 'log:no_index')
            continue
        px, py = coords
        cell = (lid, int((px - X0) // CELL), int((py - Y0) // CELL))
        hits = [bid for (a, b_, c, d), bid in cells.get(cell, [])
                if a < px < b_ and c < py < d]
        for bid in hits:
            emit(rel_line(tid, bid, 'st:sameAs'), 'relation:st:sameAs')
        if not hits:
            emit(log_line("Can't find building for toponym %s" % tid), 'log:no_match')
    feature_collection(os.path.join(out, 'toponyms.geojson'), feats)

    sha = hashlib.sha256()
    for line in sorted(out_lines):
        sha.update((line + '\n').encode())
    return {'counts': counts, 'sorted_sha256': sha.hexdigest(), 'lines': len(out_lines),
            'features': buildings + toponyms + sheets}
