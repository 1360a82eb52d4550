"""Seeded input generator of the diff workloads.

Every value is a hash of (seed, key, column salt), so the same seed gives
the same tables. The source holds `orders` (narrow, one row per key) and
`lineitem` (wide, 1-7 lines per key). The target is the source after an
edit script whose selectors are disjoint: each source key falls in at
most one edit class, and inserted partitions come from a separate pool of
fresh keys above every source key.

The expected counters, mismatch types and status rows of every table are
derived from the script alone (class counts and line counts), never from
the diff engine. The only engine rule used is the documented journal
bucket of a key: Spark's xxhash64 (seed 42) of the key, modulo the bucket
count.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir> [--pipeline]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BUCKETS = 100
FILES_PER_TABLE = 4

CONTROL = 0
DROP_PARTITION = 1  # key missing from target       -> ONLY_IN_SOURCE
DROP_ROW = 3        # last line removed (n >= 2)     -> PARTITION_MISMATCH
ADD_ROW = 4         # line n+1 added                 -> PARTITION_MISMATCH
MUTATE_VALUE = 5    # one cell changed               -> one mismatched value
VALUE_TO_NULL = 6   # a column set to null           -> mismatched values
NULL_TO_VALUE = 7   # source null, target value      -> one mismatched value
SOURCE_CLASSES = [DROP_PARTITION, DROP_ROW, ADD_ROW, MUTATE_VALUE,
                  VALUE_TO_NULL, NULL_TO_VALUE]
LINEITEM_REGULAR = 9
ORDERS_REGULAR = 5

# orders: base keys; copies: key-shifted copies; edit_width: keys per
# 10,000 in each edit class; dirty_buckets: buckets the edits are
# confined to (0 = every bucket); digest_first: the jobs' YAML setting
WORKLOADS = {
    "dirty_full": dict(orders=15_000, copies=1, edit_width=115, dirty_buckets=0,
                       digest_first=False),
    "clean_digest": dict(orders=15_000, copies=4, edit_width=700, dirty_buckets=2,
                         digest_first=True),
}

P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x, r):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def spark_xxhash64(keys, seed=42):
    """Spark's `xxhash64` of a bigint column (XXH64.hashLong), signed."""
    with np.errstate(over="ignore"):
        x = keys.astype(np.int64).view(np.uint64)
        h = np.uint64(seed) + P5 + np.uint64(8)
        h = h ^ (_rotl(x * P2, 31) * P1)
        h = _rotl(h, 27) * P1 + P4
        h ^= h >> np.uint64(33)
        h *= P2
        h ^= h >> np.uint64(29)
        h *= P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


def bucket_of(keys):
    return np.mod(spark_xxhash64(keys), BUCKETS)


def _salt(s):
    v = 1469598103934665603
    for c in s.encode():
        v = ((v ^ c) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return np.uint64(v)


def hashed(seed, salt, *cols):
    """splitmix64 over (seed, salt, cols): uniform uint64 per row."""
    with np.errstate(over="ignore"):
        x = np.uint64(seed & 0xFFFFFFFFFFFFFFFF) * np.uint64(0xD6E8FEB86659FD93) ^ _salt(salt)
        for c in cols:
            x = (x ^ np.asarray(c).astype(np.int64).view(np.uint64)) * np.uint64(0xBF58476D1CE4E5B9)
            x = x + np.uint64(0x9E3779B97F4A7C15)
            x ^= x >> np.uint64(31)
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return x


def h(seed, salt, *cols, m):
    return (hashed(seed, salt, *cols) % np.uint64(m)).astype(np.int64)


def stride_above(max_key):
    """Smallest power of ten above max_key: the shift between key copies."""
    s = 10
    while s <= max_key:
        s *= 10
    return s


def pick(values, idx):
    return np.array(values, dtype=object)[idx]


def micros(seconds):
    return seconds.astype(np.int64) * 1_000_000


TYPES = {
    "o_orderkey": pa.int64(), "o_custkey": pa.int64(), "o_orderstatus": pa.string(),
    "o_totalprice": pa.float64(), "o_orderdate": pa.timestamp("us", tz="UTC"),
    "o_orderpriority": pa.string(),
    "l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
    "l_linenumber": pa.int32(), "l_quantity": pa.float64(), "l_extendedprice": pa.float64(),
    "l_discount": pa.float64(), "l_tax": pa.float64(), "l_returnflag": pa.string(),
    "l_linestatus": pa.string(), "l_shipdate": pa.timestamp("us", tz="UTC"),
    "doc_id": pa.int64(), "text": pa.string(), "lang": pa.string(), "source": pa.string(),
    "n_chars": pa.int64(),
}


def orders_table(seed, keys, base, n_base):
    return {
        "o_orderkey": keys,
        "o_custkey": h(seed, "cust", base, m=max(n_base // 10, 1)) + 1,
        "o_orderstatus": pick(["F", "O", "P"], h(seed, "status", base, m=3)),
        "o_totalprice": (h(seed, "price", base, m=50_000_000) + 100_000) / 100.0,
        "o_orderdate": micros(694224000 + h(seed, "odate", base, m=2400) * 86400),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                h(seed, "prio", base, m=5)),
    }


def explode(keys, base, lo, hi):
    """One row per line number lo..hi (inclusive, per key)."""
    count = (hi - lo + 1).astype(np.int64)
    idx = np.repeat(np.arange(len(keys)), count)
    starts = np.cumsum(count) - count
    ln = np.arange(count.sum()) - np.repeat(starts, count) + np.repeat(lo, count)
    return idx, keys[idx], base[idx], ln


def lineitem_table(seed, k, b, ln):
    return {
        "l_orderkey": k,
        "l_partkey": h(seed, "part", b, ln, m=20000) + 1,
        "l_suppkey": h(seed, "supp", b, ln, m=1000) + 1,
        "l_linenumber": ln.astype(np.int32),
        "l_quantity": (h(seed, "qty", b, ln, m=50) + 1).astype(np.float64),
        "l_extendedprice": (h(seed, "xprice", b, ln, m=10_000_000) + 90_000) / 100.0,
        "l_discount": h(seed, "disc", b, ln, m=11) / 100.0,
        "l_tax": h(seed, "tax", b, ln, m=9) / 100.0,
        "l_returnflag": pick(["R", "A", "N"], h(seed, "rflag", b, ln, m=3)),
        "l_linestatus": pick(["O", "F"], h(seed, "lstatus", b, ln, m=2)),
        "l_shipdate": micros(694224000 + h(seed, "sdate", b, ln, m=2500) * 86400),
    }


def concat(parts):
    return {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}


def write(cols, path, files=FILES_PER_TABLE):
    """A table as `files` parquet files under directory `path`, or as the
    single file `path` when files == 1."""
    table = pa.table({c: pa.array(v, TYPES[c]) for c, v in cols.items()})
    if files == 1:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return table.num_rows
    os.makedirs(path)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))
    return n


def setting(arr, mask, value):
    out = arr.copy()
    out[mask] = value
    return out


def diff_inputs(workload, seed, out):
    shape = WORKLOADS[workload]
    n_base, copies, w = shape["orders"], shape["copies"], shape["edit_width"]
    base = np.arange(1, n_base + 1, dtype=np.int64)
    stride = stride_above(int(base.max()))
    keys = (base[None, :] + np.arange(copies, dtype=np.int64)[:, None] * stride).ravel()
    kbase = np.tile(base, copies)
    if len(np.unique(keys)) != len(keys) or keys.max() >= copies * stride:
        raise AssertionError(f"key-shifted copies overlap (stride {stride})")
    n = h(seed, "lines", kbase, m=7) + 1

    dirty = sorted(sorted(range(BUCKETS), key=lambda x: int(hashed(seed, "dirty", np.int64(x))))
                   [:shape["dirty_buckets"]])

    def eligible(k):
        return np.isin(bucket_of(k), dirty) if dirty else np.ones(len(k), bool)

    e = h(seed, "edit", keys, m=10000)
    cls = np.zeros(len(keys), np.int64)
    ok = eligible(keys)
    for i, c in enumerate(SOURCE_CLASSES):
        cls[ok & (e >= i * w) & (e < (i + 1) * w)] = c
    fresh_all = base + copies * stride
    fresh_sel = eligible(fresh_all) & (h(seed, "insert", fresh_all, m=10000) < w)
    fresh, fresh_base = fresh_all[fresh_sel], base[fresh_sel]
    fresh_n = h(seed, "lines", fresh_base, m=7) + 1

    src, tgt = os.path.join(out, "source"), os.path.join(out, "target")
    one = np.ones(len(keys), np.int64)

    # lineitem source: all lines; line 1 of NULL_TO_VALUE keys has a null status
    idx, k, b, ln = explode(keys, kbase, one, n)
    li_src = lineitem_table(seed, k, b, ln)
    li_src["l_linestatus"] = setting(li_src["l_linestatus"], (cls[idx] == NULL_TO_VALUE) & (ln == 1), None)
    # lineitem target: kept lines (minus dropped partitions / last lines),
    # added lines, inserted partitions; then the cell edits
    kc = cls[idx]
    keep = (kc != DROP_PARTITION) & ~((kc == DROP_ROW) & (n[idx] >= 2) & (ln == n[idx]))
    add = cls == ADD_ROW
    aidx, ak, ab, aln = explode(keys[add], kbase[add], n[add] + 1, n[add] + 1)
    _, fk, fb, fln = explode(fresh, fresh_base, np.ones(len(fresh), np.int64), fresh_n)
    tk = np.concatenate([k[keep], ak, fk])
    tb = np.concatenate([b[keep], ab, fb])
    tln = np.concatenate([ln[keep], aln, fln])
    tcls = np.concatenate([kc[keep], cls[add][aidx], np.zeros(len(fk), np.int64)])
    li_tgt = lineitem_table(seed, tk, tb, tln)
    li_tgt["l_quantity"] = li_tgt["l_quantity"] + ((tcls == MUTATE_VALUE) & (tln == 1))
    li_tgt["l_returnflag"] = setting(li_tgt["l_returnflag"], tcls == VALUE_TO_NULL, None)
    li_tgt["l_linestatus"] = setting(li_tgt["l_linestatus"], (tcls == NULL_TO_VALUE) & (tln == 1), "X")

    o_src = orders_table(seed, keys, kbase, n_base)
    o_src["o_orderstatus"] = setting(o_src["o_orderstatus"], cls == NULL_TO_VALUE, None)
    okeep = cls != DROP_PARTITION
    o_tgt = concat([orders_table(seed, keys[okeep], kbase[okeep], n_base),
                    orders_table(seed, fresh, fresh_base, n_base)])
    ocls = np.concatenate([cls[okeep], np.zeros(len(fresh), np.int64)])
    o_tgt["o_totalprice"] = o_tgt["o_totalprice"] + (ocls == MUTATE_VALUE)
    o_tgt["o_orderpriority"] = setting(o_tgt["o_orderpriority"], ocls == VALUE_TO_NULL, None)
    o_tgt["o_orderstatus"] = setting(o_tgt["o_orderstatus"], ocls == NULL_TO_VALUE, "X")

    rows = (write(li_src, os.path.join(src, "lineitem.parquet"))
            + write(li_tgt, os.path.join(tgt, "lineitem.parquet"))
            + write(o_src, os.path.join(src, "orders.parquet"))
            + write(o_tgt, os.path.join(tgt, "orders.parquet")))

    # expected values, from the script
    li_cls = np.where((cls == DROP_ROW) & (n < 2), CONTROL, cls)
    o_cls = np.where(np.isin(cls, [DROP_ROW, ADD_ROW]), CONTROL, cls)
    r = LINEITEM_REGULAR
    in_both = li_cls != DROP_PARTITION
    li_rows = np.where(li_cls == DROP_ROW, n - 1, n) * in_both
    li_vals = np.select(
        [np.isin(li_cls, [CONTROL, ADD_ROW]), li_cls == DROP_ROW,
         np.isin(li_cls, [MUTATE_VALUE, NULL_TO_VALUE]), li_cls == VALUE_TO_NULL],
        [n * r, (n - 1) * r, n * r - 1, n * (r - 1)], 0)
    li_bad = np.select([np.isin(li_cls, [MUTATE_VALUE, NULL_TO_VALUE]), li_cls == VALUE_TO_NULL],
                       [1, n], 0)
    mismatch_classes = [DROP_ROW, ADD_ROW, MUTATE_VALUE, VALUE_TO_NULL, NULL_TO_VALUE]
    status_rows = len(np.unique(bucket_of(np.concatenate([keys, fresh]))))
    li = {
        "matched_partitions": int((li_cls == CONTROL).sum()),
        "mismatched_partitions": int(np.isin(li_cls, mismatch_classes).sum()),
        "only_in_source": int((li_cls == DROP_PARTITION).sum()),
        "only_in_target": len(fresh),
        "matched_rows": int(li_rows.sum()),
        "matched_values": int(li_vals.sum()),
        "mismatched_values": int(li_bad.sum()),
    }
    o_matched = int((o_cls == CONTROL).sum())
    o_bad = int(np.isin(o_cls, [MUTATE_VALUE, VALUE_TO_NULL, NULL_TO_VALUE]).sum())
    o = {
        "matched_partitions": o_matched,
        "mismatched_partitions": o_bad,
        "only_in_source": int((o_cls == DROP_PARTITION).sum()),
        "only_in_target": len(fresh),
        "matched_rows": o_matched + o_bad,
        "matched_values": o_matched * ORDERS_REGULAR + o_bad * (ORDERS_REGULAR - 1),
        "mismatched_values": o_bad,
    }

    def types(c):
        t = {"ONLY_IN_SOURCE": c["only_in_source"], "ONLY_IN_TARGET": c["only_in_target"],
             "PARTITION_MISMATCH": c["mismatched_partitions"]}
        return {k: v for k, v in t.items() if v > 0}

    return {
        "source": src, "target": tgt, "digest_first": shape["digest_first"],
        "input_rows": int(rows),
        "key_stride": stride, "dirty_buckets": dirty,
        "source_partitions": len(keys),
        "edited_partitions": int((li_cls != CONTROL).sum()) + len(fresh),
        "tables": [
            {"table": "lineitem", "counters": li, "types": types(li), "status_rows": status_rows},
            {"table": "orders", "counters": o, "types": types(o), "status_rows": status_rows},
        ],
    }


VOCAB = ["a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
         "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
         "window", "order", "data", "column", "join", "small", "big",
         "customer", "query", "stream", "group", "filter", "vector", "dup"]


def pipeline_inputs(seed, out, n_docs=5000, n_orders=30_000):
    """`documents` (hashed words, five languages, 20 sources) and an
    unedited `lineitem` for the pipeline queries, one file per table as
    the DuckDB oracle checker (tools/check_oracle.py) reads them."""
    ids = np.arange(n_docs, dtype=np.int64)
    lens = h(seed, "len", ids, m=60) + 20
    idx, d, _, pos = explode(ids, ids, np.ones(n_docs, np.int64), lens)
    words = np.array(VOCAB, dtype=object)[h(seed, "w", d, pos, m=len(VOCAB))]
    bounds = np.cumsum(lens)[:-1]
    text = [" ".join(ws) for ws in np.split(words, bounds)]
    write({
        "doc_id": ids,
        "text": np.array(text, dtype=object),
        "lang": pick(["en", "en", "en", "es", "fr", "zh", "de"], h(seed, "lang", ids, m=7)),
        "source": np.array([f"src{i % 20}" for i in ids], dtype=object),
        "n_chars": np.array([len(t) for t in text], np.int64),
    }, os.path.join(out, "documents.parquet"), files=1)
    base = np.arange(1, n_orders + 1, dtype=np.int64)
    n = h(seed, "lines", base, m=7) + 1
    _, k, b, ln = explode(base, base, np.ones(n_orders, np.int64), n)
    write(lineitem_table(seed, k, b, ln), os.path.join(out, "lineitem.parquet"), files=1)


def main(argv):
    workload, seed, out = argv[0], int(argv[1]), argv[2]
    if workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload}")
    info = diff_inputs(workload, seed, os.path.join(out, "data"))
    if "--pipeline" in argv:
        info["pipeline_input"] = os.path.join(out, "pipeline", "input")
        pipeline_inputs(seed, info["pipeline_input"])
    tmp = os.path.join(out, "inputs.json.tmp")
    with open(tmp, "w") as f:
        json.dump(info, f)
    os.rename(tmp, os.path.join(out, "inputs.json"))


if __name__ == "__main__":
    main(sys.argv[1:])
