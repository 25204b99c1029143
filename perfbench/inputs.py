"""Seeded benchmark inputs: a synthetic HPROF heap dump and an LLM text
corpus, each with the ground truth the benchmark checks outputs against.

Both are pure functions of the seed (same seed -> byte-identical files)
and are cached per seed, so generating them never counts as set-up.
Only these generated files reach the engine; the engine never sees the
seed.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import struct
from collections import Counter

import numpy as np

# ---------------------------------------------------------------------------
# Heap dump
# ---------------------------------------------------------------------------

#: Object counts of the generated heap. The dump is ~2.4 MB; the counts
#: do not depend on the seed, so every seed's dump has nearly the same
#: size and throughput figures compare across seeds.
HEAP = {
    "app_classes": 8,
    "app_instances": 40_000,
    "strings": 3_000,
    "dup_string_groups": 75,
    "extra_byte_arrays": 800,
    "int_arrays": 300,
    "long_arrays": 60,
    "object_arrays": 600,
    "array_lists": 500,
    "hash_maps": 250,
    "integers": 600,
    "longs": 300,
    "threads": 40,
    "direct_buffers": 100,
    "frame_roots": 600,
    "jni_roots": 100,
    "requests": 600,
}
#: Heap-dump segment size: the ingest split planner never lets a task
#: span two segments, so this sets the convert pass's task count.
SEGMENT_BYTES = 512 * 1024
APP_PREFIX = "com.bench.app.Cls"
SESSION_ID = "bench"
ZIPF_S = 1.1

T_OBJ, T_BOOL, T_BYTE, T_INT, T_LONG = 2, 4, 8, 10, 11


def view_name(table: str) -> str:
    """Session view name of *table* (``HeapSession.view_name`` for the
    session id the benchmark opens)."""
    safe = table.replace(".", "_").replace("[", "_").replace("]", "_")
    return f"{SESSION_ID}__{safe}".replace("-", "_")


def _zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return w / w.sum()


class _Segments:
    """Collects heap sub-records and cuts a heap-dump segment whenever
    SEGMENT_BYTES have accumulated."""

    def __init__(self, writer):
        self.w = writer
        self.buf = bytearray()

    def add(self, rec: bytes) -> None:
        self.buf += rec
        if len(self.buf) >= SEGMENT_BYTES:
            self.flush()

    def flush(self) -> None:
        if self.buf:
            self.w.heap_segment(bytes(self.buf))
            self.buf = bytearray()


def build_heap_dump(path: str, seed: int) -> dict:
    """Write the seeded heap dump to *path* and return its ground truth:
    rows per warehouse table, the waste each tier-1/2 check must report,
    and the query_heap request mix with the expected answer of each."""
    from heapdumpstardiver_spark.ingest.hprof_writer import HprofWriter

    rng = np.random.default_rng([seed, 0xD0])
    w = HprofWriter(id_size=8)
    rows: Counter = Counter()

    # -- classes ------------------------------------------------------------
    classes: dict[str, int] = {}
    class_fields: dict[str, list] = {}
    serial = 0

    def define(jvm_name: str, fields: list, statics=()) -> int:
        nonlocal serial
        serial += 1
        cid = w.oid()
        w.load_class(serial, cid, jvm_name)
        classes[jvm_name] = cid
        class_fields[jvm_name] = (fields, list(statics))
        return cid

    define("java/lang/Object", [])
    define("java/lang/String", [("value", T_OBJ), ("coder", T_BYTE),
                                ("hash", T_INT), ("hashIsZero", T_BOOL)])
    define("java/lang/Integer", [("value", T_INT)])
    define("java/lang/Long", [("value", T_LONG)])
    define("java/util/ArrayList", [("size", T_INT), ("elementData", T_OBJ)])
    define("java/util/HashMap", [("size", T_INT), ("table", T_OBJ), ("threshold", T_INT)])
    define("java/lang/Thread", [("threadStatus", T_INT), ("name", T_OBJ), ("tid", T_LONG)])
    define("java/nio/DirectByteBuffer", [("capacity", T_INT), ("position", T_INT),
                                         ("limit", T_INT), ("address", T_LONG)])
    n_app = HEAP["app_classes"]
    for k in range(n_app):
        statics = [("INSTANCES", T_INT, struct.pack(">i", k))] if k == 0 else []
        define(f"com/bench/app/Cls{k}", [("id", T_LONG), ("a", T_INT), ("b", T_INT),
                                         ("ref", T_OBJ)], statics)
    oarr_cid = w.oid()
    serial += 1
    w.load_class(serial, oarr_cid, "[Ljava/lang/Object;")
    serial += 1
    w.load_class(serial, w.oid(), "[B")

    # -- stack frames / traces (one trace per thread) -------------------------
    frame_ids = []
    for i in range(12):
        fid = 0xF000 + i
        frame_ids.append(fid)
        owner = ["java/lang/Thread", "com/bench/app/Cls0", "com/bench/app/Cls1"][i % 3]
        w.stack_frame(fid, f"method{i}", "()V", f"Src{i % 4}.java",
                      list(classes).index(owner) + 1, 10 + i)
    rows["_stack_frames"] = len(frame_ids)
    n_threads = HEAP["threads"]
    for t in range(n_threads):
        depth = int(rng.integers(0, 30))
        w.stack_trace(t + 1, t + 1, [frame_ids[int(j)] for j in rng.integers(0, 12, depth)])
    rows["_stack_traces"] = n_threads

    seg = _Segments(w)
    for jvm_name, cid in classes.items():
        fields, statics = class_fields[jvm_name]
        super_id = 0 if jvm_name == "java/lang/Object" else classes["java/lang/Object"]
        seg.add(w.class_dump(
            cid, super_id, 16,
            [(w.sid(n), t, v) for n, t, v in statics],
            [(w.sid(n), t) for n, t in fields]))
        rows["_field_types"] += len(fields)
        rows["_static_fields"] += len(statics)
    rows["_class_hierarchy"] = len(classes)

    inst = w.instance
    byte_arrays: list[bytes] = []   # contents of every byte[] written
    prim_lists: dict[str, list] = {"int": [], "long": []}

    def byte_array(content: bytes) -> int:
        oid = w.oid()
        seg.add(w.prim_array(oid, T_BYTE, "b", struct.unpack(f">{len(content)}b", content)))
        byte_arrays.append(content)
        return oid

    # -- Strings, each backed by its own byte[]; planted duplicate groups ----
    n_str = HEAP["strings"]
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    group_sizes = rng.integers(2, 12, HEAP["dup_string_groups"])
    n_dup = int(group_sizes.sum())
    contents = []
    for g, size in enumerate(group_sizes):
        body = letters[rng.integers(0, 26, int(rng.integers(8, 40)))].tobytes()
        contents += [b"d%05d:" % g + body] * int(size)
    for i in range(n_str - n_dup):
        body = letters[rng.integers(0, 26, int(rng.integers(4, 34)))].tobytes()
        contents.append(b"u%06d:" % i + body)
    contents = [contents[i] for i in rng.permutation(len(contents))]
    str_pack = struct.Struct(">QbiB").pack
    string_ids = []
    s_cid = classes["java/lang/String"]
    for content in contents:
        bid = byte_array(content)
        oid = w.oid()
        seg.add(inst(oid, s_cid, str_pack(bid, 0, 0, 1)))
        string_ids.append(oid)
    rows["java.lang.String"] = n_str

    # -- boxed numbers ---------------------------------------------------------
    integer_ids = []
    for v in rng.integers(-1000, 1000, HEAP["integers"]):
        oid = w.oid()
        seg.add(inst(oid, classes["java/lang/Integer"], struct.pack(">i", int(v))))
        integer_ids.append(oid)
    for v in rng.integers(-10**9, 10**9, HEAP["longs"]):
        seg.add(inst(w.oid(), classes["java/lang/Long"], struct.pack(">q", int(v))))
    rows["java.lang.Integer"] = HEAP["integers"]
    rows["java.lang.Long"] = HEAP["longs"]

    # -- byte[] / int[] / long[] not behind Strings ------------------------------
    kinds = rng.choice(5, HEAP["extra_byte_arrays"], p=[0.05, 0.05, 0.10, 0.20, 0.60])
    planted: list[bytes] = []
    for i, kind in enumerate(kinds):
        if kind == 0:
            content = b""
        elif kind == 1:
            content = bytes([int(rng.integers(1, 100))])
        elif kind == 2:
            content = bytes(int(rng.integers(8, 64)))
        elif kind == 3:
            if not planted or rng.random() < 0.3:
                planted.append(b"\xfd%06d" % i + rng.bytes(int(rng.integers(16, 120))))
            content = planted[int(rng.integers(0, len(planted)))]
        else:
            content = b"\xfe%06d" % i + rng.bytes(int(rng.integers(16, 120)))
        byte_array(content)
    for ptype, code, tcode, count in (("int", "i", T_INT, HEAP["int_arrays"]),
                                      ("long", "q", T_LONG, HEAP["long_arrays"])):
        for kind in rng.choice(4, count, p=[0.05, 0.10, 0.20, 0.65]):
            n = 0 if kind == 0 else 1 if kind == 1 else int(rng.integers(2, 64))
            vals = [0] * n if kind == 2 else [int(v) for v in rng.integers(1, 1000, n)]
            seg.add(w.prim_array(w.oid(), tcode, code, vals))
            prim_lists[ptype].append(vals)
    rows["_primitive_arrays_byte"] = len(byte_arrays)
    rows["_primitive_arrays_int"] = HEAP["int_arrays"]
    rows["_primitive_arrays_long"] = HEAP["long_arrays"]

    # -- application instances: Zipf-sized classes ------------------------------
    weights = _zipf_weights(n_app)
    per_class = np.maximum(200, np.round(weights * HEAP["app_instances"])).astype(int)
    app_pack = struct.Struct(">qiiQ").pack
    ref_pool = np.array(string_ids + integer_ids, dtype=np.int64)
    app: dict[str, dict] = {}
    for k in range(n_app):
        cid = classes[f"com/bench/app/Cls{k}"]
        n = int(per_class[k])
        a = rng.integers(-10**6, 10**6, n)
        b = rng.integers(0, 16, n)
        ref = np.where(rng.random(n) < 0.1, 0, ref_pool[rng.integers(0, len(ref_pool), n)])
        ids = np.empty(n, dtype=np.int64)
        for i in range(n):
            oid = w.oid()
            ids[i] = oid
            seg.add(inst(oid, cid, app_pack(i, int(a[i]), int(b[i]), int(ref[i]))))
        app[f"{APP_PREFIX}{k}"] = {"ids": ids, "a": a, "b": b, "ref": ref}
        rows[f"{APP_PREFIX}{k}"] = n

    # -- object arrays: standalone, then collections with backing arrays --------
    obj_arrays: list[list[int]] = []

    def obj_array(elements: list[int]) -> int:
        oid = w.oid()
        seg.add(w.obj_array(oid, oarr_cid, elements))
        obj_arrays.append(elements)
        return oid

    def refs(n: int) -> list[int]:
        return [int(x) for x in ref_pool[rng.integers(0, len(ref_pool), n)]]

    for kind in rng.choice(5, HEAP["object_arrays"], p=[0.05, 0.05, 0.10, 0.10, 0.70]):
        if kind == 0:
            elements = []
        elif kind == 1:
            elements = [0] * int(rng.integers(2, 10))
        elif kind == 2:
            elements = refs(1)
        elif kind == 3:
            n = int(rng.integers(10, 20))
            elements = [r if rng.random() < 0.15 else 0 for r in refs(n)]
        else:
            elements = refs(int(rng.integers(2, 16)))
        obj_array(elements)

    collections = {"java.util.ArrayList": [], "java.util.HashMap": []}
    al_cid = classes["java/util/ArrayList"]
    for kind in rng.choice(4, HEAP["array_lists"], p=[0.10, 0.10, 0.55, 0.25]):
        if kind == 0:
            size, data = 0, 0
        else:
            size = 1 if kind == 1 else int(rng.integers(2, 20))
            cap = max(10, size) if kind < 3 else 2 * size + 10
            data_len = cap if kind != 2 else size + int(rng.integers(0, 5))
            data = obj_array(refs(size) + [0] * (data_len - size))
        seg.add(inst(w.oid(), al_cid, struct.pack(">iQ", size, data)))
        collections["java.util.ArrayList"].append((size, data, len(obj_arrays[-1]) if data else 0))
    hm_cid = classes["java/util/HashMap"]
    for kind in rng.choice(4, HEAP["hash_maps"], p=[0.10, 0.10, 0.55, 0.25]):
        if kind == 0:
            size, table, cap = 0, 0, 0
        else:
            size = 1 if kind == 1 else int(rng.integers(2, 24))
            cap = max(16, 1 << math.ceil(math.log2(size / 0.75))) if kind < 3 else 128
            slots = [0] * cap
            for pos, r in zip(rng.choice(cap, size, replace=False), refs(size)):
                slots[int(pos)] = r
            table = obj_array(slots)
        seg.add(inst(w.oid(), hm_cid, struct.pack(">iQi", size, table, int(cap * 0.75))))
        collections["java.util.HashMap"].append((size, table, cap))
    rows["_object_arrays"] = len(obj_arrays)
    rows["java.util.ArrayList"] = HEAP["array_lists"]
    rows["java.util.HashMap"] = HEAP["hash_maps"]

    # -- threads, direct buffers, GC roots --------------------------------------
    statuses = [0x0005, 0x0011, 0x0002, 0x0401, 0x0000, 0x0021]
    thread_ids, alive = [], 0
    for t in range(n_threads):
        status = statuses[int(rng.integers(0, len(statuses)))]
        alive += bool(status & 1) and not status & 2
        oid = w.oid()
        seg.add(inst(oid, classes["java/lang/Thread"],
                     struct.pack(">iQq", status, string_ids[t], t + 1)))
        thread_ids.append(oid)
    rows["java.lang.Thread"] = n_threads
    for _ in range(HEAP["direct_buffers"]):
        cap = 0 if rng.random() < 0.2 else int(rng.integers(1, 65536))
        pos = int(rng.integers(0, cap + 1))
        seg.add(inst(w.oid(), classes["java/nio/DirectByteBuffer"],
                     struct.pack(">iiiq", cap, pos, cap, 0)))
    rows["java.nio.DirectByteBuffer"] = HEAP["direct_buffers"]

    roots = 0
    for cid in classes.values():
        seg.add(w.root(0x05, cid))
        roots += 1
    for t, oid in enumerate(thread_ids):
        seg.add(w.root(0x08, oid, struct.pack(">II", t + 1, t + 1)))
        roots += 1
    all_app = np.concatenate([v["ids"] for v in app.values()])
    for oid in all_app[rng.integers(0, len(all_app), HEAP["frame_roots"])]:
        seg.add(w.root(0x03, int(oid), struct.pack(">II", int(rng.integers(1, n_threads + 1)), 0)))
        roots += 1
    for oid in refs(HEAP["jni_roots"]):
        seg.add(w.root(0x01, oid, w.pack_id(0)))
        roots += 1
    rows["_gc_roots"] = roots
    seg.flush()
    w.heap_end()
    with open(path, "wb") as f:
        f.write(w.buf)

    n_instances = sum(v for k, v in rows.items() if not k.startswith("_"))
    n_prim = sum(rows[f"_primitive_arrays_{t}"] for t in ("byte", "int", "long"))
    rows["_object_index"] = len(classes) + n_instances + n_prim + len(obj_arrays)

    truth = {
        "dump_bytes": len(w.buf),
        "tables": dict(sorted(rows.items())),
        "findings": _expected_findings(contents, byte_arrays, prim_lists, obj_arrays, collections,
                                       HEAP["integers"] + HEAP["longs"], roots,
                                       HEAP["direct_buffers"], alive or n_threads),
        "requests": _request_mix(rng, app, set(string_ids)),
    }
    return truth


def _expected_findings(string_contents, byte_arrays, prim_lists, obj_arrays, collections, boxed,
                       roots, direct_buffers, threads) -> dict:
    """affected_count each tier<=2 check must report, recomputed from
    what the generator wrote (the engine's rules, restated here
    independently). The class-count check reports nothing below 10,000
    classes, so it is expected absent (None)."""
    # every String owns its byte[], so equal content means a duplicate
    dup_strings = sum(n for n in Counter(string_contents).values() if n > 1)
    content_counts = Counter(byte_arrays)
    dup_bytes = sum(n for c, n in content_counts.items() if n > 1 and 0 < len(c) <= 10240)

    bad_prim = 0
    for arrays in [[list(c) for c in byte_arrays], prim_lists["int"], prim_lists["long"]]:
        for vals in arrays:
            n = len(vals)
            bad_prim += n <= 1 or not any(vals)

    bad_oarr = 0
    for el in obj_arrays:
        n, nulls = len(el), el.count(0)
        bad_oarr += n == 0 or nulls == n or n == 1 or (n > 3 and nulls / n > 0.7)

    bad_coll = sum(size <= 1 for rows in collections.values() for size, _, _ in rows)
    sizing = sum(size >= 2 and table != 0 and cap >= 16 and size / cap < 0.33
                 for size, table, cap in collections["java.util.HashMap"])
    sizing += sum(size >= 1 and data != 0 and cap > 2 * size and cap - size > 8
                  for size, data, cap in collections["java.util.ArrayList"])
    return {
        "check_duplicate_strings": dup_strings,
        "check_bad_collections": bad_coll,
        "check_bad_object_arrays": bad_oarr,
        "check_bad_primitive_arrays": bad_prim,
        "check_boxed_numbers": boxed,
        "check_collection_sizing": sizing,
        "check_duplicate_byte_arrays": dup_bytes,
        "check_class_count": None,
        "check_gc_roots": roots,
        "check_direct_byte_buffers": direct_buffers,
        "check_thread_stacks": threads,
    }


#: The request kinds, in the order the mix repeats them, so every run of
#: consecutive requests holds each kind equally often.
REQUEST_KINDS = ("point", "histogram", "ref_join", "page")


def _request_mix(rng, app: dict, string_ids: set) -> list[dict]:
    """query_heap requests with their expected answers. Classes and
    object ids are drawn Zipf-skewed, the access pattern of interactive
    drill-down: a few hot classes and hot objects get most requests."""
    names = list(app)
    class_p = _zipf_weights(len(names))
    hot_order = {name: rng.permutation(len(app[name]["ids"])) for name in names}
    out = []
    for _ in range(HEAP["requests"]):
        name = names[int(rng.choice(len(names), p=class_p))]
        cols = app[name]
        n = len(cols["ids"])
        hot = hot_order[name]
        i = int(hot[min(n - 1, int(rng.zipf(1.5)) - 1)])
        view = view_name(name)
        kind = REQUEST_KINDS[len(out) % len(REQUEST_KINDS)]
        oid = int(cols["ids"][i])
        if kind == "point":
            sql = f"SELECT obj_id, id, a, b, ref FROM {view} WHERE obj_id = {oid}"
            rows = [{"obj_id": oid, "id": i, "a": int(cols["a"][i]),
                     "b": int(cols["b"][i]), "ref": int(cols["ref"][i])}]
            req = {"sql": sql, "rows": rows}
        elif kind == "histogram":
            sql = f"SELECT b, COUNT(*) AS n FROM {view} GROUP BY b ORDER BY b"
            vals, counts = np.unique(cols["b"], return_counts=True)
            req = {"sql": sql, "rows": [{"b": int(v), "n": int(c)} for v, c in zip(vals, counts)]}
        elif kind == "ref_join":
            sql = (f"SELECT o.type_name AS type_name FROM {view} c JOIN "
                   f"{view_name('_object_index')} o ON c.ref = o.obj_id WHERE c.obj_id = {oid}")
            ref = int(cols["ref"][i])
            typ = "java.lang.String" if ref in string_ids else "java.lang.Integer"
            req = {"sql": sql, "rows": [{"type_name": typ}] if ref else []}
        else:
            page = int(rng.integers(0, 8))
            sql = f"SELECT obj_id, a FROM {view} ORDER BY obj_id"
            lo, hi = page * 25, page * 25 + 25
            req = {"sql": sql, "offset": lo, "limit": 25, "has_more": hi < n,
                   "rows": [{"obj_id": int(cols["ids"][j]), "a": int(cols["a"][j])}
                            for j in range(lo, min(hi, n))]}
        req["kind"] = kind
        out.append(req)
    return out


# ---------------------------------------------------------------------------
# Corpus
# ---------------------------------------------------------------------------

#: Source of the corpus: a copy of the documents and embeddings tables
#: of the repository's sf0.1 test fixture, so the benchmark reads
#: nothing outside its own directory.
CORPUS_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
#: Replicas of the source documents (each replica shifts doc_id and
#: rotates vowels, as scripts/make_scale_data.py does) plus planted
#: exact and near-duplicate copies.
CORPUS_REPLICAS = 1
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.10
#: The embedding_near_dup_pairs oracle pins 6 sign planes, which the
#: engine only picks for <= 2048 vectors, so the vector table keeps the
#: source's row count; it is perturbed per seed instead of replicated.
VECTOR_NOISE = 0.002
VECTOR_NEAR_DUP_SHARE = 0.05
CORPUS_QUERIES = ("dedup_exact", "minhash_lsh_candidates", "jaccard_pairs",
                  "embedding_near_dup_pairs", "similarity_topk", "tfidf_top_terms")
_VOWELS = "aeiou"


def build_corpus(out_dir: str, seed: int) -> dict:
    """Write documents.parquet and embeddings.parquet under *out_dir*
    (single-file tables, the layout catalog.load_table reads) and return
    row counts. Deterministic in *seed*."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 0xC0])
    src = pq.read_table(os.path.join(CORPUS_SOURCE, "documents.parquet")).to_pylist()
    docs = []
    rotations = rng.permutation(len(_VOWELS))
    for k in range(CORPUS_REPLICAS):
        r = int(rotations[k])
        table = str.maketrans(_VOWELS, _VOWELS[r:] + _VOWELS[:r])
        for d in src:
            docs.append({**d, "doc_id": d["doc_id"] + k * 100_000_000,
                         "text": d["text"].translate(table)})
    next_id = 900_000_000
    n_base = len(docs)
    for share, near in ((EXACT_DUP_SHARE, False), (NEAR_DUP_SHARE, True)):
        for i in rng.choice(n_base, int(share * n_base), replace=False):
            d = docs[int(i)]
            tokens = d["text"].split(" ")
            if near and len(tokens) > 3:
                for j in rng.choice(len(tokens), max(1, len(tokens) // 20), replace=False):
                    tokens[int(j)] = tokens[int(rng.integers(0, len(tokens)))]
            docs.append({**d, "doc_id": next_id, "text": " ".join(tokens)})
            next_id += 1
    for d in docs:
        d["n_chars"] = len(d["text"])
    order = rng.permutation(len(docs))
    docs = [docs[int(i)] for i in order]
    src_schema = pq.read_schema(os.path.join(CORPUS_SOURCE, "documents.parquet"))
    schema = pa.schema([src_schema.field(n) for n in src_schema.names])
    pq.write_table(pa.Table.from_pylist(docs, schema=schema),
                   os.path.join(out_dir, "documents.parquet"))

    emb = pq.read_table(os.path.join(CORPUS_SOURCE, "embeddings.parquet"))
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    vecs = vecs + rng.normal(0, VECTOR_NOISE, vecs.shape).astype(np.float32)
    n = len(vecs)
    dst = rng.choice(np.arange(1, n), int(VECTOR_NEAR_DUP_SHARE * n), replace=False)
    src_rows = rng.integers(0, n, len(dst))
    vecs[dst] = vecs[src_rows] + rng.normal(0, VECTOR_NOISE, (len(dst), vecs.shape[1]))
    emb_schema = pq.read_schema(os.path.join(CORPUS_SOURCE, "embeddings.parquet"))
    out = pa.table({
        "vec_id": emb.column("vec_id"),
        "embedding": pa.array([list(v) for v in vecs.astype(np.float32)],
                              type=emb_schema.field("embedding").type),
        "label": emb.column("label"),
    })
    pq.write_table(out, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": len(docs), "embeddings": n,
            "corpus_bytes": sum(len(d["text"]) for d in docs)}


def canonical_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, each
    value rendered by repr, rows sorted (the canon of
    scripts/verify_contract.py)."""
    def canon(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        return repr(v)

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("|".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def oracle_hashes(corpus_dir: str) -> dict:
    """Result hash of each corpus query's DuckDB oracle twin."""
    import duckdb

    import heapdumpstardiver_spark as hds

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(corpus_dir, t)}.parquet'")
        out = {}
        for name in CORPUS_QUERIES:
            rel = con.sql(hds.ORACLE_SQL[name])
            rows = rel.fetchall()
            out[name] = {"hash": canonical_hash(list(rel.columns), rows), "rows": len(rows)}
        return out
    finally:
        con.close()


# ---------------------------------------------------------------------------
# Per-seed cache
# ---------------------------------------------------------------------------

#: How many seeds' inputs stay cached; older ones are evicted first.
CACHE_SEEDS = 24


def _evict(cache_root: str, kind: str, keep: str) -> None:
    entries = [e for e in os.listdir(cache_root) if e.startswith(kind + "-") and e != keep]
    entries.sort(key=lambda e: os.path.getmtime(os.path.join(cache_root, e)))
    for e in entries[: max(0, len(entries) + 1 - CACHE_SEEDS)]:
        shutil.rmtree(os.path.join(cache_root, e), ignore_errors=True)


def _generator_id() -> str:
    """Changes whenever this file does, so a cached input never outlives
    the generator that made it."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def _cached(cache_root: str, kind: str, seed: int, build) -> tuple[str, dict]:
    d = os.path.join(cache_root, f"{kind}-{seed}-{_generator_id()}")
    done = os.path.join(d, "truth.json")
    if not os.path.exists(done):
        os.makedirs(cache_root, exist_ok=True)
        _evict(cache_root, kind, os.path.basename(d))
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        truth = build(tmp)
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    os.utime(d)
    with open(done) as f:
        return d, json.load(f)


def heap_input(cache_root: str, seed: int) -> tuple[str, dict]:
    """(dump path, ground truth) for *seed*, generated on first use."""
    d, truth = _cached(cache_root, "heap", seed,
                       lambda tmp: build_heap_dump(os.path.join(tmp, "heap.hprof"), seed))
    return os.path.join(d, "heap.hprof"), truth


def corpus_input(cache_root: str, seed: int) -> tuple[str, dict]:
    """(corpus dir, truth incl. oracle hashes) for *seed*."""
    def build(tmp):
        truth = build_corpus(tmp, seed)
        truth["oracle"] = oracle_hashes(tmp)
        return truth

    return _cached(cache_root, "corpus", seed, build)
