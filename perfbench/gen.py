"""Seeded input generator for the graft benchmark.

Every table is a pure function of (workload, seed): the same seed writes the
same rows. Files go to the run's own work directory and nothing else; the
function returns the shape statistics the benchmark records beside its
results (row, key and vector counts, skew, duplicates, ties, and the working
set relative to the heap and to the online store's serving cache).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z in microseconds: every timestamp is a whole second.
T0_US = 1_704_067_200 * 1_000_000
SEC = 1_000_000
HOUR = 3600 * SEC
DAY = 86400 * SEC

# The online store's driver serving cache bound
# (graft.OnlineStore.DefaultServingCacheKeys).
SERVING_CACHE_KEYS = 1_000_000

# Sizes per workload. Requests are dominated by Spark's fixed per-query
# cost at these sizes (about 1.4 s each on a 4-core machine), and they are
# kept small so that a run, cold JVM included, takes about a minute.
PIT = dict(
    drivers=5_000, driver_zipf=0.6, driver_hot=0.02, driver_rows=100_000,
    driver_ttl_s=3_600,
    customers=10_000, customer_zipf=0.6, customer_rows=60_000,
    customer_ttl_s=6 * 3_600,
    global_rows=1_000, global_ttl_s=3_600,
    days=14, entity_rows=20_000, dup_share=0.05, unmatched_share=0.05,
)
MAT = dict(
    keys=60_000, zipf=1.05, rows=620_000, days=30, ttl_s=2 * 86_400,
    reads_per_window=256, unwritten_read_share=0.1,
)
ANN = dict(
    vectors=12_000, dim=64, clusters=128, spread=1.1,
    batches=8, batch_size=32, query_noise=0.05, k=10, recall_batch=0,
    # a search whose recall@k on the recall batch falls below this is wrong
    min_recall=0.5,
)


def zipf_keys(rng, n, keys, s, hot=0.0):
    """`n` draws from a Zipf(s) law over `keys` ranks; rank r gets weight
    r^-s, and rank 1 (the hot key) additionally gets share `hot` of all
    draws. Ranks map to ids through a seeded permutation so the hot key is
    not simply id 0. Returns (ids, hot_id, hot_share_of_law)."""
    w = np.arange(1, keys + 1, dtype=np.float64) ** -s
    w *= (1.0 - hot) / w.sum()
    w[0] += hot
    ids = rng.permutation(keys).astype(np.int64)
    draws = ids[rng.choice(keys, size=n, p=w)]
    return draws, int(ids[0]), float(w[0])


def ts_array(us):
    return pa.array(np.asarray(us, dtype=np.int64), pa.timestamp("us", tz="UTC"))


def write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)
    return os.path.getsize(path)


def _key_stats(keys, hot):
    _, counts = np.unique(keys, return_counts=True)
    return dict(rows=int(len(keys)), distinct_keys=int(len(counts)),
                hot_key=hot, hot_key_share=round(float(np.mean(keys == hot)), 6),
                max_rows_per_key=int(counts.max()))


def gen_pit(rng, out):
    p = PIT
    span = p["days"] * DAY
    files = {}
    stats = {}

    # driver_stats: keyed parquet view, TTL, a `seq` tie-break column and
    # second-level timestamps, so (driver, ts) ties exist and seq breaks them.
    n = p["driver_rows"]
    drv, hot, hot_law = zipf_keys(rng, n, p["drivers"], p["driver_zipf"],
                                  p["driver_hot"])
    ts = T0_US + rng.integers(0, span // SEC, n) * SEC
    seq = rng.permutation(n).astype(np.int64)
    t = pa.table({
        "driver_id": drv, "event_timestamp": ts_array(ts), "seq": seq,
        "conv_rate": rng.random(n), "acc_rate": rng.random(n),
        "trips": rng.integers(0, 500, n).astype(np.int64)})
    files["driver_stats"] = write(t, os.path.join(out, "driver_stats.parquet"))
    s = _key_stats(drv, hot)
    s["zipf_s"] = p["driver_zipf"]
    s["hot_key_share_of_law"] = round(hot_law, 6)
    s["key_ts_tie_rows"] = int(n - np.unique(np.stack([drv, ts]), axis=1).shape[1])
    stats["driver_stats"] = s

    # customer_profile: query-sourced view; event ts truncated to the hour,
    # so (customer, hour) ties are exact and the created ts breaks them.
    n = p["customer_rows"]
    cus, chot, chot_law = zipf_keys(rng, n, p["customers"], p["customer_zipf"])
    ts = T0_US + rng.integers(0, span // HOUR, n) * HOUR
    created = ts + (rng.permutation(n).astype(np.int64) + 1) * SEC // 1000
    t = pa.table({
        "customer_id": cus, "event_timestamp": ts_array(ts),
        "created": ts_array(created),
        "avg_orders": rng.random(n) * 10,
        "tier": pa.array(np.array(["bronze", "silver", "gold"])[
            rng.integers(0, 3, n)])})
    files["customer_profile"] = write(
        t, os.path.join(out, "customer_profile.parquet"))
    s = _key_stats(cus, chot)
    s["zipf_s"] = p["customer_zipf"]
    s["hot_key_share_of_law"] = round(chot_law, 6)
    pairs = np.stack([cus, ts])
    s["created_ts_tie_rows"] = int(n - np.unique(pairs, axis=1).shape[1])
    stats["customer_profile"] = s

    # global_stats: entity-less view with a bounded TTL; distinct timestamps
    # so the latest row in a window is unique.
    n = p["global_rows"]
    ts = T0_US + np.sort(rng.choice(span // SEC, n, replace=False)) * SEC
    t = pa.table({
        "event_timestamp": ts_array(ts),
        "total_trips": rng.integers(0, 10_000, n).astype(np.int64),
        "surge": rng.random(n) * 3})
    files["global_stats"] = write(t, os.path.join(out, "global_stats.parquet"))
    stats["global_stats"] = dict(rows=n)

    # entity frame: Zipf keys from the same laws, timestamps after the first
    # day, some rows duplicated exactly and some keys that never match.
    n = p["entity_rows"]
    # resampling the feature rows' keys draws from the same Zipf laws
    e_drv = drv[rng.integers(0, len(drv), n)]
    e_cus = cus[rng.integers(0, len(cus), n)]
    e_ts = T0_US + DAY + rng.integers(0, (span - DAY) // SEC, n) * SEC
    n_unm = int(n * p["unmatched_share"])
    unm = rng.choice(n, n_unm, replace=False)
    e_drv[unm] = p["drivers"] + rng.integers(0, p["drivers"], n_unm)
    e_cus[unm] = p["customers"] + rng.integers(0, p["customers"], n_unm)
    n_dup = int(n * p["dup_share"])
    dst = rng.choice(n, n_dup, replace=False)
    src = rng.integers(0, n, n_dup)
    e_drv[dst], e_cus[dst], e_ts[dst] = e_drv[src], e_cus[src], e_ts[src]
    t = pa.table({"driver_id": e_drv, "customer_id": e_cus,
                  "event_timestamp": ts_array(e_ts)})
    files["entity"] = write(t, os.path.join(out, "entity.parquet"))
    trip = np.stack([e_drv, e_cus, e_ts])
    stats["entity"] = dict(
        rows=n, duplicate_rows=int(n - np.unique(trip, axis=1).shape[1]),
        unmatched_driver_rows=int(np.sum(e_drv >= p["drivers"])),
        unmatched_customer_rows=int(np.sum(e_cus >= p["customers"])),
        hot_driver_rows=int(np.sum(e_drv == hot)))
    stats["ttl_s"] = dict(driver_stats=p["driver_ttl_s"],
                          customer_profile=p["customer_ttl_s"],
                          global_stats=p["global_ttl_s"])
    return files, stats


def gen_mat(rng, out):
    p = MAT
    n = p["rows"]
    # one day of history before the first window, then `days` windows
    span = (p["days"] + 1) * DAY
    keys, hot, hot_law = zipf_keys(rng, n, p["keys"], p["zipf"])
    ts = T0_US + rng.integers(0, span // SEC, n) * SEC
    created = ts + (rng.permutation(n).astype(np.int64) + 1) * SEC // 1000
    t = pa.table({
        "driver_id": keys, "event_timestamp": ts_array(ts),
        "created": ts_array(created),
        "fare": rng.random(n) * 50, "distance": rng.random(n) * 20,
        "rating": rng.integers(1, 6, n).astype(np.int64)})
    files = {"trips": write(t, os.path.join(out, "trips.parquet"))}

    # read keys: per window a fixed batch, Zipf over written ids plus a share
    # of ids that were never written (they must read as misses)
    w, r = p["days"], p["reads_per_window"]
    rk = keys[rng.integers(0, n, (w, r))]
    unw = rng.random((w, r)) < p["unwritten_read_share"]
    rk[unw] = p["keys"] + rng.integers(0, p["keys"], int(unw.sum()))
    pq.write_table(pa.table({
        "window": np.repeat(np.arange(1, w + 1, dtype=np.int64), r),
        "driver_id": rk.reshape(-1)}), os.path.join(out, "reads.parquet"))
    s = _key_stats(keys, hot)
    s.update(zipf_s=p["zipf"], hot_key_share_of_law=round(hot_law, 6),
             windows=w, reads_per_window=r,
             unwritten_reads=int(unw.sum()),
             keys_over_serving_cache=round(s["distinct_keys"] / SERVING_CACHE_KEYS, 6))
    return files, {"trips": s}


def gen_ann(rng, out):
    p = ANN
    n, d = p["vectors"], p["dim"]
    centers = rng.standard_normal((p["clusters"], d))
    lab = rng.integers(0, p["clusters"], n)
    vec = (centers[lab] + p["spread"] * rng.standard_normal((n, d))).astype(np.float32)
    nq = p["batches"] * p["batch_size"]
    base = vec[rng.integers(0, n, nq)]
    qv = (base + p["query_noise"] * rng.standard_normal((nq, d))).astype(np.float32)

    def table(ids, v):
        offs = pa.array(np.arange(0, len(v) * d + 1, d, dtype=np.int32))
        return pa.table({"id": ids, "vec": pa.ListArray.from_arrays(
            offs, pa.array(v.reshape(-1)))})

    files = {"corpus": write(table(np.arange(n, dtype=np.int64), vec),
                             os.path.join(out, "corpus.parquet"))}
    qids = np.arange(n, n + nq, dtype=np.int64)
    pq.write_table(pa.table({
        "batch": np.repeat(np.arange(p["batches"], dtype=np.int64), p["batch_size"]),
        "id": qids, "vec": table(qids, qv).column("vec")}),
        os.path.join(out, "queries.parquet"))
    # raw little-endian float32 rows for the benchmark's exact-cosine check
    vec.astype("<f4").tofile(os.path.join(out, "corpus.f32"))
    qv.astype("<f4").tofile(os.path.join(out, "queries.f32"))
    _, counts = np.unique(lab, return_counts=True)
    return files, {"corpus": dict(
        vectors=n, dim=d, clusters=p["clusters"],
        largest_cluster_share=round(float(counts.max() / n), 6),
        queries=nq, batches=p["batches"], batch_size=p["batch_size"],
        raw_bytes=int(vec.nbytes))}


def gen_serve(rng, out):
    files, stats = gen_mat(rng, out)
    ann_files, ann_stats = gen_ann(rng, out)
    return {**files, **ann_files}, {**stats, **ann_stats}


GENERATORS = {"pit_training_set": gen_pit, "materialize_serve": gen_serve}


def generate(workload, seed, out, heap_bytes):
    """Write the workload's inputs for `seed` into `out`; return their stats."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    files, stats = GENERATORS[workload](rng, out)
    total = sum(files.values())
    stats["files_bytes"] = files
    stats["working_set_bytes"] = total
    stats["working_set_over_heap"] = round(total / heap_bytes, 6)
    return stats
