"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Noise-proof design (round-4 verdict: a single long-lived JVM running 33
queries back-to-back accumulates JVM/Python-worker state and straddles
multi-second host-interference windows, publishing ~3x-inflated numbers
for late queries):

- The suite runs as K=3 INDEPENDENT passes. Each pass measures the fast
  queries in one fresh JVM and each slow query (>2s) in its OWN fresh JVM.
- Every worker times a fixed single-threaded busy-loop (host-noise
  sentinel) on both the wall and process-CPU clocks before and after its
  queries; a worker whose wall/cpu ratio exceeds 1.35 (noisy neighbor or
  hypervisor suspend inflates wall while cpu stays flat) is discarded as
  polluted and re-run (bounded retry budget) rather than averaged in.
- Published per-query number = MIN over clean per-pass medians (each pass
  median is warmup + 3 reps). Min-of-medians is robust: a median already
  absorbs one-off blips inside a pass; taking the min across independent
  JVMs removes whole polluted passes.

stdout is ONE compact JSON line (the driver tails ~2000 chars — r4's
in-line spread/deltas overflowed it and the round published parsed:null).
Full evidence (per-pass samples, sentinels, spreads, deltas vs prev
round) goes to BENCH_DETAIL.json next to this file.

The flagship measures the north-rule metric — pages geocoded + spatially
joined + tile-assigned per second — on a lineitem-scale point layer
(~600k rows at sf0.1), not the 5k-row documents table.

Usage: python bench.py            # one JSON line on stdout
       SPARK_GRAFT_CPUS=8 python bench.py
       python bench.py --worker spec.json   # internal: one measuring JVM
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SLOW_QUERIES = [
    # fresh-JVM-per-pass set: anything whose honest cost is >~2s, so a
    # single interference window cannot pollute the rest of the suite
    "tile_way_mvt_stats",
    "text_dedupe_clusters",
    "osm_to_geojson",
    "embed_ann_ivf",
    "text_substring_dupes",
]

FAST_QUERIES = [
    "q1_pricing_summary",
    "q3_order_revenue",
    "q_window_top_orders",
    "geo_cell_assign",
    "geo_s2_cell_assign",
    "geo_knn",
    "geo_point_in_polygon",
    "geo_bbox_overlap_join",
    "osm_dedupe_nodes",
    "osm_way_refs_join",
    "osm_merge_lww",
    "text_minhash",
    "text_lsh_pairs",
    "text_simhash",
    "embed_cosine_topk",
    "tile_mvt_stats",
    "osm_extract_simple",
    "shortbread_classify",
    "osm_ring_assembly",
    "osm_relation_kind",
    "osm_dedupe_ways",
    "shortbread_layers",
    "multimodal_decode",
    "embed_ann_lsh",
    "tile_raster_stats",
    "osm_merge_relations",
    "osm_content_hash",
    "multimodal_audio",
    "multimodal_video_frames",
    # routing queries (shortest_path/p2p/astar) stay out of the headline:
    # they are round-latency-bound iterative loops, not throughput work
]

FLAGSHIP = "flagship_spatial_join"
PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
POLLUTION_FACTOR = 1.35
MAX_RETRIES = 2 * PASSES


def sentinel_probe() -> dict:
    """Fixed single-threaded busy-loop (~0.5s quiet), timed on BOTH the
    wall clock and the process-CPU clock. wall/cpu ~ 1.0 on a quiet host;
    a noisy neighbor (descheduling) or hypervisor suspend inflates wall
    while cpu stays flat, so the ratio is a self-calibrating pollution
    signal — no cross-run baseline required.

    A second, memory-touching probe (fresh 80MB arange+copy) catches the
    failure mode the busy-loop cannot: lazily host-backed guest memory,
    where first-touch page faults stall the vCPU (wall advances, process
    CPU does not). Measured on this sandbox: quiet mem wall ~0.04s,
    stalled 10-50x that with cpu flat — so mem_ratio is the gate."""
    w0, c0 = time.perf_counter(), time.process_time()
    x = 0
    for i in range(3_000_000):
        x = (x + (i ^ (x >> 3))) & 0xFFFFFFFF  # mask: keep ints machine-width
    wall = time.perf_counter() - w0
    cpu = time.process_time() - c0
    try:
        import numpy as np

        mw0, mc0 = time.perf_counter(), time.process_time()
        a = np.arange(10_000_000, dtype=np.int64)  # 80MB fresh pages
        a = a + 1
        mem_wall = time.perf_counter() - mw0
        mem_cpu = time.process_time() - mc0
        del a
    except Exception:
        mem_wall = mem_cpu = 0.0
    return {"wall": round(wall, 3), "cpu": round(cpu, 3),
            "ratio": round(wall / max(cpu, 1e-9), 3),
            "mem_wall": round(mem_wall, 3),
            "mem_ratio": round(mem_wall / max(mem_cpu, 1e-9), 3)}


def flagship_pages_pipeline(spark, sf_dir: str):
    """Geocode 'pages' (lineitem-scale synthetic points) -> cell assign ->
    spatial join vs the part-derived node layer -> per-tile aggregation.

    Returns (pages_df, result_df), both lazy: the call launches no Spark
    job, so a caller that needs the page count runs it itself. The big
    side is scanned once, keyed by cell, and joined against a broadcast
    node layer — at cluster scale the node layer is the smaller OSM dim
    and this stays a broadcast join; the groupBy(cell) shuffle is the
    single exchange.
    """
    from pyspark.sql import functions as F

    from osmix_spark.functions import geo
    from osmix_spark.sources import layout, synth

    li = layout.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    page_id = (F.col("l_orderkey") * 16 + F.col("l_linenumber")).alias("page_id")
    pages = li.select(
        page_id,
        synth.clustered_lon(F.col("l_orderkey") * 16 + F.col("l_linenumber")).alias("lon"),
        synth.clustered_lat(F.col("l_orderkey") * 16 + F.col("l_linenumber")).alias("lat"),
    )
    nodes = layout.read_parquet(spark, f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("node_id"),
        synth.clustered_lon("p_partkey").alias("lon"),
        synth.clustered_lat("p_partkey").alias("lat"),
    )
    z = F.lit(14)
    p = pages.withColumn("cell", geo.cell_key(F.col("lon"), F.col("lat"), z))
    n = nodes.select(geo.cell_key(F.col("lon"), F.col("lat"), z).alias("cell"), "node_id")
    joined = (
        p.join(F.broadcast(n.groupBy("cell").agg(F.count(F.lit(1)).alias("n_nodes"))), "cell")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("n_nodes").alias("node_hits"),
        )
    )
    return pages, joined


def run_worker(spec_path: str) -> None:
    """One measuring JVM: sentinel, (warmup + 3 reps) per query, sentinel.
    Writes results JSON to spec['out']."""
    with open(spec_path) as f:
        spec = json.load(f)
    sent_before = sentinel_probe()

    from osmix_spark.session import get_spark

    cpus = spec["cpus"]
    spark = get_spark("osmix-bench", cores=cpus, shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod  # noqa: F401 — driver-contract import check

    from osmix_spark import queries as _queries

    qs = _queries.all_queries()
    sf_dir = spec["sf_dir"]
    out: dict = {"results": {}, "flagship_pages": None}

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for name in spec["queries"]:
        if name == FLAGSHIP:
            pages, result = flagship_pages_pipeline(spark, sf_dir)
            out["flagship_pages"] = pages.count()
            mk = lambda: result  # noqa: E731
        else:
            fn = qs[name]
            mk = (lambda f: lambda: f(spark, sf_dir))(fn)
        for _ in range(spec.get("warmups", 1)):
            # warmup: codegen/JIT/shuffle-file caches; the heavy Python
            # stages (numpy import + JIT in 32 reused workers) need TWO
            # passes to reach steady state — measured 11.5/6.2/6.1/4.1s
            # on tile_way_mvt_stats
            run(mk())
        samples = []
        for _ in range(3):
            t0 = time.time()
            run(mk())
            samples.append(round(time.time() - t0, 3))
        samples.sort()
        out["results"][name] = {"median": samples[1], "samples": samples}

    spark.stop()
    out["sentinel"] = [sent_before, sentinel_probe()]
    with open(spec["out"], "w") as f:
        json.dump(out, f)


def spawn_worker(queries: list[str], sf_dir: str, cpus: int, tmpdir: str,
                 tag: str, warmups: int = 1) -> dict | None:
    spec_path = os.path.join(tmpdir, f"spec_{tag}.json")
    out_path = os.path.join(tmpdir, f"out_{tag}.json")
    with open(spec_path, "w") as f:
        json.dump({"queries": queries, "sf_dir": sf_dir, "cpus": cpus,
                   "out": out_path, "warmups": warmups}, f)
    log_path = os.path.join(tmpdir, f"log_{tag}.txt")
    with open(log_path, "w") as log:
        rc = subprocess.call(
            [sys.executable, os.path.abspath(__file__), "--worker", spec_path],
            stdout=log, stderr=log, cwd=HERE,
        )
    if rc != 0 or not os.path.exists(out_path):
        return None
    with open(out_path) as f:
        return json.load(f)


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--worker":
        run_worker(sys.argv[2])
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    workers: list[dict] = []  # {tag, queries, data}
    pending: list[tuple[str, list[str]]] = []
    for p in range(PASSES):
        pending.append((f"p{p}_fast", [FLAGSHIP] + FAST_QUERIES))
        for sq in SLOW_QUERIES:
            pending.append((f"p{p}_{sq}", [sq]))

    def polluted(data: dict) -> bool:
        if max(s["ratio"] for s in data["sentinel"]) > POLLUTION_FACTOR:
            return True
        # memory-stall gates. The PRE-run probe is predictive: a worker
        # that starts while host memory backing is stalled (measured here:
        # quiet 0.05-0.25s, stalled 6.6s) times its whole pass 2-3x slow.
        # The POST-run probe routinely stalls for 1-3s on this sandbox
        # (the JVM just churned GBs), so only an extreme post value —
        # or a post wall/cpu divergence — marks the pass sick.
        if data["sentinel"][0].get("mem_wall", 0.0) > 1.5:
            return True
        return (data["sentinel"][-1].get("mem_ratio", 1.0) > 3.0
                or data["sentinel"][-1].get("mem_wall", 0.0) > 10.0)

    retries_left = MAX_RETRIES
    with tempfile.TemporaryDirectory(prefix="osmix_bench_") as tmpdir:

        def drain(queue: list[tuple[str, list[str]]]) -> None:
            nonlocal retries_left
            while queue:
                tag, names = queue.pop(0)
                data = spawn_worker(names, sf_dir, cpus, tmpdir, tag,
                                    warmups=2 if names[0] in SLOW_QUERIES else 1)
                if data is None:
                    # a crashed worker is a hard failure only if it never succeeds
                    if retries_left > 0:
                        retries_left -= 1
                        queue.append((tag + "r", names))
                    continue
                data["_tag"], data["_names"] = tag, names
                data["_polluted"] = polluted(data)
                workers.append(data)
                if data["_polluted"] and retries_left > 0:
                    retries_left -= 1
                    queue.append((tag + "r", names))

        drain(list(pending))

        # spread-driven extra pass (once): a query whose CLEAN per-pass
        # medians disagree by > 50% of the best one straddled a host-noise
        # window some sentinel missed — give it one more fresh JVM so
        # min-of-medians picks from 4 passes. Spready fast queries share
        # one extra worker; each spready slow query gets its own.
        def spready(name: str) -> bool:
            meds = [w["results"][name]["median"] for w in workers
                    if name in w["results"] and not w["_polluted"]]
            return (len(meds) >= 2 and min(meds) > 0
                    and max(meds) - min(meds) > 0.5 * min(meds))

        spready_fast = [n for n in [FLAGSHIP] + FAST_QUERIES if spready(n)]
        extra: list[tuple[str, list[str]]] = []
        if spready_fast:
            extra.append(("xspread_fast", spready_fast))
        extra += [(f"xspread_{sq}", [sq]) for sq in SLOW_QUERIES if spready(sq)]
        drain(extra)
    if not workers:
        print(json.dumps({"error": "every bench worker JVM crashed"}))
        sys.exit(1)
    baseline = min(s["wall"] for w in workers for s in w["sentinel"])

    all_names = [FLAGSHIP] + FAST_QUERIES + SLOW_QUERIES
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    fallback: list[str] = []
    flagship_pages = None
    pass_spreads: dict[str, float] = {}
    for name in all_names:
        cand = [w for w in workers
                if name in w["results"] and not w["_polluted"]]
        if not cand:  # every JVM for this query hit noise: publish anyway, flagged
            cand = [w for w in workers if name in w["results"]]
            fallback.append(name)
        if not cand:
            # every JVM that ran this query crashed: publish the rest of
            # the suite with the casualty flagged instead of dying on
            # min() of an empty list
            timings[name] = -1.0
            spreads[name] = pass_spreads[name] = 0.0
            fallback.append(name + ":crashed")
            continue
        meds = [w["results"][name]["median"] for w in cand]
        timings[name] = round(min(meds), 3)
        # published spread = sample spread INSIDE the winning pass (the
        # uncertainty of the published number); the cross-pass spread
        # measures host drift the min-of-medians exists to remove and
        # goes to the detail file as pass_spread
        winner = min(cand, key=lambda w: w["results"][name]["median"])
        samples = winner["results"][name]["samples"]
        spreads[name] = round(max(samples) - min(samples), 3)
        pass_spreads[name] = round(max(meds) - min(meds), 3)
    for w in workers:
        if w.get("flagship_pages"):
            flagship_pages = w["flagship_pages"]

    total = round(sum(v for v in timings.values() if v > 0), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    n_polluted = sum(1 for w in workers if w["_polluted"])
    out = {
        "metric": "headline suite wall-clock, min of 3 independent fresh-JVM pass medians (flagship = pages geocoded+spatial-joined+tile-assigned)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "flagship_pages": flagship_pages,
        "flagship_pages_per_sec": round(flagship_pages / timings[FLAGSHIP], 1)
        if flagship_pages else None,
        "passes": PASSES,
        "noise": {"sentinel_wall_min": round(baseline, 3),
                  "polluted_workers": n_polluted,
                  "clean_workers": len(workers) - n_polluted},
    }

    detail = {
        **out,
        "spread": spreads,
        "pass_spread": pass_spreads,
        "fallback_polluted_only": fallback,
        "workers": [
            {"tag": w["_tag"], "sentinel": w["sentinel"],
             "polluted": w["_polluted"],
             "results": w["results"]}
            for w in workers
        ],
        "deltas_vs_prev": _deltas_vs_prev_round(timings),
    }
    with open(os.path.join(HERE, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1)

    line = json.dumps(out)
    if len(line) > 1900:  # driver tail buffer is ~2000 chars — never overflow
        out["queries"] = {k: round(v, 2) for k, v in timings.items()}
        line = json.dumps(out)
    print(line)


def _deltas_vs_prev_round(timings: dict[str, float]) -> dict[str, float]:
    """Per-query delta (sec, this - prev) against the latest BENCH_r*.json.
    Rounds whose driver file has parsed=null (the r4 tail overflow) are
    reconstructed from the previous parsed round + the deltas_vs_prev dict
    still visible in the raw tail."""
    import glob
    import re

    def round_no(p: str) -> int:
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    prev_files = sorted(
        (p for p in glob.glob(os.path.join(HERE, "BENCH_r*.json")) if round_no(p) >= 0),
        key=round_no,
    )
    prev_q: dict[str, float] = {}
    for path in prev_files:  # earliest -> latest, carrying reconstruction
        try:
            with open(path) as f:
                rec = json.load(f)
            parsed = rec.get("parsed")
            if parsed and parsed.get("queries"):
                prev_q = dict(parsed["queries"])
                continue
            m = re.search(r'"deltas_vs_prev": ({[^}]*})', rec.get("tail", ""))
            if m and prev_q:
                deltas = json.loads(m.group(1))
                prev_q = {k: round(prev_q[k] + d, 3) for k, d in deltas.items()
                          if k in prev_q}
        except Exception:
            continue
    if not prev_q:
        return {}
    return {k: round(v - prev_q[k], 3) for k, v in timings.items() if k in prev_q}


if __name__ == "__main__":
    main()
