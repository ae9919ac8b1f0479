"""Seeded tagged OSM extract and its ground truth.

The extract is built in two steps so that it is cheap to make at the sizes
the benchmark times:

1. A *base* extract is drawn from ``numpy.random.RandomState(seed)`` and
   encoded once with ``encode.write_pbf``: node blocks of 8000 DenseNodes,
   then way blocks, then relation blocks (type-then-id order, one primitive
   kind per block, so planning-time kinds pruning has work to do).
2. The full extract repeats each section's data blocks behind the one
   header, a given number of times per primitive (``copies``). PBF blocks
   are self-contained (string table and delta chains restart per block),
   so byte-level repetition is a valid file; ids repeat across copies,
   which a scan does not care about.

Shape per base copy, per ``n_nodes`` nodes: about 20% of nodes carry 1-3
tags from a small vocabulary, one way per 8 nodes with 2-14 refs and 1-3
tags, one relation per 100 nodes with 2-9 members and 1-2 tags.

Ground truth is computed here from the generator's own arrays, never by
decoding the file, and scaled by each primitive's number of copies.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from osmpbf_spark.sources.pbf import decode, encode

NODE_KEYS = ["highway", "amenity", "name", "shop", "natural", "power",
             "barrier", "tourism"]
NODE_VALS = ["bus_stop", "bench", "cafe", "tree", "tower", "gate", "yes",
             "crossing", "Main Street", "viewpoint", "bakery", "pole"]
WAY_KEYS = ["highway", "building", "landuse", "waterway", "surface", "oneway",
            "name"]
WAY_VALS = ["residential", "yes", "farmland", "stream", "asphalt", "no",
            "service", "River Road", "track", "house"]
REL_TYPES = ["multipolygon", "route", "boundary", "restriction"]
REL_KEYS = ["name", "network", "ref"]
REL_VALS = ["Line 4", "local", "A1", "North Park"]
ROLES = ["outer", "inner", "", "stop", "platform", "via"]
MEMBER_TYPES = ["node", "way", "relation"]
BLOCK_ROWS = 8000  # entities per PrimitiveBlock, as osmium writes them


def _crc(k: str, v: str) -> int:
    return zlib.crc32(f"{k}={v}".encode("utf-8"))


def _draw_tags(rng, keys, vals, n_lo, n_hi) -> dict:
    n = int(rng.randint(n_lo, n_hi + 1))
    ks = rng.choice(len(keys), size=n, replace=False)
    return {keys[k]: vals[int(rng.randint(len(vals)))] for k in ks}


def _tag_sums(tag_dicts) -> tuple[int, int]:
    pairs = crc = 0
    for t in tag_dicts:
        for k, v in (t or {}).items():
            pairs += 1
            crc += _crc(k, v)
    return pairs, crc


def base_extract(seed: int, n_nodes: int) -> dict:
    """Draw the base extract: node columns, way and relation records."""
    rng = np.random.RandomState(seed)
    ids = 1_000_000 + np.cumsum(rng.randint(1, 4, size=n_nodes)).astype(np.int64)
    lat7 = rng.randint(-850_000_000, 850_000_000, size=n_nodes).astype(np.int64)
    lon7 = rng.randint(-1_800_000_000, 1_800_000_000, size=n_nodes).astype(np.int64)
    tagged = rng.rand(n_nodes) < 0.20
    tags = [
        _draw_tags(rng, NODE_KEYS, NODE_VALS, 1, 3) if t else None
        for t in tagged
    ]
    ways = []
    wid = 50_000_000
    for _ in range(n_nodes // 8):
        nrefs = int(rng.randint(2, 15))
        start = int(rng.randint(0, n_nodes - nrefs))
        # consecutive-ish refs, as real ways reference nearby nodes
        refs = ids[start:start + nrefs].tolist()
        wid += int(rng.randint(1, 6))
        ways.append({"id": wid, "refs": refs,
                     "tags": _draw_tags(rng, WAY_KEYS, WAY_VALS, 1, 3)})
    rels = []
    rid = 90_000_000
    way_ids = [w["id"] for w in ways]
    for _ in range(n_nodes // 100):
        members = []
        for _m in range(int(rng.randint(2, 10))):
            t = int(rng.randint(3))
            if t == 0:
                ref = int(ids[rng.randint(n_nodes)])
            elif t == 1:
                ref = way_ids[rng.randint(len(way_ids))]
            else:
                ref = 90_000_000 + int(rng.randint(1, 10_000))
            members.append((ROLES[rng.randint(len(ROLES))], ref, t))
        rid += int(rng.randint(1, 6))
        tags_r = {"type": REL_TYPES[rng.randint(len(REL_TYPES))]}
        tags_r.update(_draw_tags(rng, REL_KEYS, REL_VALS, 0, 1))
        rels.append({"id": rid, "members": members, "tags": tags_r})
    return {"ids": ids, "lat7": lat7, "lon7": lon7, "tags": tags,
            "ways": ways, "relations": rels}


def truth(base: dict, copies: dict[str, int]) -> dict:
    """Checksums of the full extract, from the generator's arrays.
    ``copies`` maps node, way, relation and tagged_node (the parquet image)
    to how many times the base repeats."""
    ids, tags = base["ids"], base["tags"]
    n_pairs, n_crc = _tag_sums(tags)
    tagged = np.array([bool(t) for t in tags])
    t_pairs, t_crc = _tag_sums(t for t in tags if t)
    w = base["ways"]
    w_pairs, w_crc = _tag_sums(x["tags"] for x in w)
    r = base["relations"]
    r_pairs, r_crc = _tag_sums(x["tags"] for x in r)
    nodes = {
        "rows": len(ids), "sum_id": int(ids.sum()),
        "sum_lat7": int(base["lat7"].sum()), "sum_lon7": int(base["lon7"].sum()),
        "tag_pairs": n_pairs, "tag_crc": n_crc,
    }
    tagged_nodes = {
        "rows": int(tagged.sum()), "sum_id": int(ids[tagged].sum()),
        "sum_lat7": int(base["lat7"][tagged].sum()),
        "sum_lon7": int(base["lon7"][tagged].sum()),
        "tag_pairs": t_pairs, "tag_crc": t_crc,
    }
    ways = {
        "rows": len(w), "sum_id": sum(x["id"] for x in w),
        "refs": sum(len(x["refs"]) for x in w),
        "sum_refs": sum(sum(x["refs"]) for x in w),
        "tag_pairs": w_pairs, "tag_crc": w_crc,
    }
    relations = {
        "rows": len(r), "sum_id": sum(x["id"] for x in r),
        "members": sum(len(x["members"]) for x in r),
        "sum_member_refs": sum(m[1] for x in r for m in x["members"]),
        "member_crc": sum(
            zlib.crc32(f"{m[0]}|{MEMBER_TYPES[m[2]]}".encode("utf-8"))
            for x in r for m in x["members"]
        ),
        "tag_pairs": r_pairs, "tag_crc": r_crc,
    }
    out = {"node": nodes, "tagged_node": tagged_nodes, "way": ways,
           "relation": relations}
    return {p: {k: v * copies[p] for k, v in d.items()} for p, d in out.items()}


def _blocks(base: dict) -> list[dict]:
    ids, lat7, lon7, tags = base["ids"], base["lat7"], base["lon7"], base["tags"]
    blocks = []
    for i in range(0, len(ids), BLOCK_ROWS):
        s = slice(i, i + BLOCK_ROWS)
        blocks.append({"nodes": {"id": ids[s], "lat_nano": lat7[s] * 100,
                                 "lon_nano": lon7[s] * 100, "tags": tags[s]}})
    for key in ("ways", "relations"):
        recs = base[key]
        blocks += [{key: recs[i:i + BLOCK_ROWS]}
                   for i in range(0, len(recs), BLOCK_ROWS)]
    return blocks


def write_extract(base: dict, copies: dict[str, int], path: str) -> dict:
    """Encode the base once, then write the extract with each section's
    data blocks repeated ``copies[primitive]`` times. Returns the base
    file's path and per-primitive compressed byte totals of the full
    extract."""
    base_path = path + ".base"
    encode.write_pbf(base_path, _blocks(base))
    index = decode.index_blocks(base_path)
    with open(base_path, "rb") as f:
        raw = f.read()
    head = next(m for m in index if m.block_type == "OSMHeader")
    sections: dict[int, list[bytes]] = {1: [], 2: [], 4: []}
    kind_bytes = {1: 0, 2: 0, 4: 0}
    start = head.data_offset + head.data_size
    for m in index:
        if m.block_type != "OSMData":
            continue
        end = m.data_offset + m.data_size
        kind = m.stats["kinds"]
        sections[kind].append(raw[start:end])
        kind_bytes[kind] += m.data_size
        start = end
    kinds = {"node": 1, "way": 2, "relation": 4}
    with open(path, "wb") as f:
        f.write(raw[:head.data_offset + head.data_size])
        for p, kind in kinds.items():
            chunk = b"".join(sections[kind])
            for _ in range(copies[p]):
                f.write(chunk)
    return {
        "base_path": base_path,
        "bytes": {p: kind_bytes[k] * copies[p] for p, k in kinds.items()},
        "file_bytes": os.path.getsize(path),
    }


def write_tagged_image(base: dict, copies: int, out_dir: str, files: int) -> int:
    """Parquet image of the tagged nodes (every copy), split into ``files``
    files so the JVM plans several read tasks. Returns the row count."""
    tagged = np.flatnonzero([bool(t) for t in base["tags"]])
    table = pa.table({
        "id": pa.array(np.tile(base["ids"][tagged], copies), type=pa.int64()),
        "lat": pa.array(np.tile(base["lat7"][tagged], copies) * 1e-7),
        "lon": pa.array(np.tile(base["lon7"][tagged], copies) * 1e-7),
        "tags": pa.array(
            [list(base["tags"][i].items()) for i in tagged] * copies,
            type=pa.map_(pa.string(), pa.string()),
        ),
    })
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))
    return n
