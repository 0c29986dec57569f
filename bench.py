"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs the engine's headline queries on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced to full execution with the ``noop`` write format
(whole plan runs, nothing is collected to the driver — the honest way to
time a distributed plan). Methodology: one unmeasured warmup pass over the
whole headline set (JVM + per-query codegen compile + caches), then each
query is billed the MEDIAN of 3 measured runs with rounds interleaved —
see the inline comments in ``main`` for why. Per-query deltas against the
pinned ``BENCH_BASELINE.json`` go to stderr; stdout stays one line.

Host-phase sentinel (round 14, VERDICT r13 item 7): a FIXED,
data-independent probe job (constant 32-partition ``range`` + hash-sum,
median of 3) is timed immediately before and after the measured rounds
and emitted as ``host_sentinel`` — round 13 lost its entire perf signal
to 1.6-3x host-contention phases that flagged 59 false regressions, and
the sentinel lets the comparison normalize or discard a slow-host run.
Additions-only: the one-line JSON contract, ``$SPARK_GRAFT_SF_DIR`` /
``$SPARK_GRAFT_CPUS`` handling and the query timing path are unchanged.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ws_to_kafka_spark.operators import QUERIES  # noqa: E402
from ws_to_kafka_spark.operators import distributed  # noqa: E402
from ws_to_kafka_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Headline set: the most expensive representative of each operator family.
HEADLINE = (
    "q_flagship_pricing_summary",  # scan + wide agg
    "q_join_inner",                # multi-way join
    "q_join_range",                # range join
    "q_agg_distinct",              # count-distinct expand
    "q_agg_cube",                  # grouping sets
    "q_topk",                      # window group limit
    "q_win_frame",                 # window frames over the fact table
    "q_win_session",               # session windows
    "q_fn_math",                   # scalar expression throughput
    "q_fn_json",                   # json extraction
    "q_dedup_exact",               # hash dedup
    "q_dedup_near",                # MinHash-LSH + verify
    "q_sim_topk",                  # brute-force cosine top-k
    "q_sim_ann",                   # LSH-bucketed ANN
    "q_dedup_embed",               # embedding near-dup (sign-LSH + verify)
    "q_join_asof",                 # as-of join (union + window carry)
    "q_text_quality",              # text scoring scan
    "q_udf_scalar",                # Arrow pandas-UDF path
    "q_text_tfidf",                # wordcount-shaped: 2 agg shuffles + dict join
    "q_dedup_clusters",            # iterative connected components
    "q_join_bloom",                # bloom runtime-filter prefilter + exact join
    "q_text_repetition",           # explode + double grouped agg over tokens
    "q_vocab_topk",                # global heavy hitters (TakeOrderedAndProject)
    "q_win_range_interval",        # time-interval RANGE frames over events
    "q_graph_pagerank",            # 5-iteration join/agg loop over the graph
    "q_rollup_multires",           # hierarchical rollup (daily from hourly)
    "q_sim_centroid",              # centroid build + broadcast argmax scoring
    "q_join_overlap",              # keyed interval-overlap self-join
    "q_dedup_sentences",           # sentence keep-first + reassembly
    "q_sql_market_share",          # 8-table join graph (Q8 analog)
    "q_sql_waiting_supplier",      # double-correlated EXISTS/NOT EXISTS (Q21)
    "q_dedup_substring",           # positioned k-gram span dedup + island merge
    "q_graph_triangles",           # degree-oriented adjacency intersection
    # round-4 additions (absent from earlier baselines; the common-subset
    # comparison below is unaffected)
    "q_graph_bfs",                 # level-synchronous frontier iteration
    "q_assoc_rules",               # basket self-join + pair aggregation
    "q_orders_rfm",                # entity-frame NTILE sorts
    "q_seq_transitions",           # per-user LAG + tiny-key normalize
    "q_win_rolling_median",        # sorted-frame selection over row frames
    # round-5 additions
    "q_embed_kmeans",              # 3-pass Lloyd: scan x broadcast centroids
    "q_ts_stl",                    # windowed decomposition + seasonal join
    "q_graph_kcore",               # fixed-round peel over the cached index
    "q_embed_pca",                 # outer-product co-moments + 2 matvecs
    "q_graph_neighborhood",        # edges self-join + distinct 2-ball count
    # round-6 additions
    "q_embed_knn_graph",           # blocked exact matmul + two-level top-k
    "q_graph_clustering",          # triangle listing + per-corner aggregate
    "q_skew_keys",                 # distributed global rank (range + offsets)
    "q_corpus_shuffle",            # two-level (shard, pos) permutation
    # round-7 additions
    "q_drift_ks",                  # two-sample CDF via fused prefix sums
    "q_ts_crosscorr",              # hourly series lag join + exact moments
    "q_graph_label_prop",          # 3 sync LPA rounds over the edge index
    "q_graph_scc",                 # size-gated Tarjan kernel / FW-BW loop
    "q_ab_chi2",                   # contingency cells + broadcast totals
    "q_stream_session",            # per-user lag-gap session scan
    "q_ab_bootstrap",              # 16x map-side replicate fan-out + agg
    # round-8 additions
    "q_join_overlap_grid",         # unkeyed overlap via time-grid blocking
    # round-11 additions (VERDICT r10 item 2: the repo's heaviest
    # operators were invisible to the per-round regression bar)
    "q_embed_knn_ann",             # LSH tables + NN-descent k-NN build
    "q_sim_graph_search",          # beam search over the k-NN graph
    "q_dedup_semantic",            # SemDeDup: kmeans + in-cluster pruning
    # round-12 addition
    "q_bpe_apply",                 # BPE tokenizer-apply: per-lang token budget
)


def host_sentinel(spark, warm: bool = False) -> float:
    """Median-of-3 wall time of a FIXED, data-independent JVM agg job
    (32-partition range + xxhash64 sum through the noop sink — no
    parquet, no Python workers, no caches). Identical work every call,
    so its time moves ONLY with host contention/scheduling state; the
    pre/post pair in the payload timestamps the measurement window's
    host phase. ``warm=True`` runs one unmeasured pass first (Janino
    codegen compile bills ~1-2 s to the first run of the generated
    class — that's JVM state, not host phase)."""
    from pyspark.sql import functions as F

    def probe() -> float:
        t0 = time.perf_counter()
        (
            # bit_xor, not sum: 20M signed xxhash64 values overflow a
            # long under ANSI mode (caught by the sf0.01 smoke); xor is
            # overflow-free and still forces the per-row hash
            spark.range(0, 20_000_000, 1, 32)
            .agg(F.expr("bit_xor(xxhash64(id))").alias("h"))
            .write.format("noop").mode("overwrite").save()
        )
        return time.perf_counter() - t0

    if warm:
        probe()
    return round(sorted(probe() for _ in range(3))[1], 3)


def run_once(spark, name: str, sf_dir: str) -> float:
    # q_graph_scc's RESULT is _cached_frame-served: evict its cache
    # entries (edge index + assignment) before every sample so the
    # median measures the cold dispatch, not a persisted read-back —
    # the same cold-path rule tools/sf1_bench.py applies (round-9
    # ADVICE).  Eviction runs OUTSIDE the timed region's scope but
    # before the timer, so the rebuild is billed and the release isn't.
    if name == "q_graph_scc":
        from ws_to_kafka_spark.operators.dedup import evict_sf_dir

        evict_sf_dir(sf_dir, kind_prefix="scc_")
    # Rank passes cache their range exchange; the scope releases this
    # query's caches on exit so a long bench session doesn't accumulate
    # executor storage (and can't touch any other plan's caches). The
    # timed region excludes the scope-exit unpersist, matching the
    # pre-scope methodology (release was never billed to the query).
    with distributed.persist_scope():
        start = time.perf_counter()
        QUERIES[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        elapsed = time.perf_counter() - start
    return elapsed


def compare_to_baseline(
    per_query: dict[str, float],
    sf: float,
    samples: dict[str, list[float]] | None = None,
):
    """Per-query deltas vs the pinned baseline (details on stderr —
    the stdout contract stays one JSON line; the intersection ratio is also
    returned for the JSON so a grown headline set stays comparable). Flags
    any query >2x its baseline time (the >2x regression bar set in round 2).

    When per-round ``samples`` are given, also reports the PER-ROUND
    common-subset ratio (each interleaved pass summed independently) as
    median + [min, max] spread — the round-9 VERDICT de-noising ask:
    0.73 vs 0.85 on identical code across runs made single-number
    cross-round comparisons unreliable; the spread makes the noise band
    part of the artifact instead of folklore.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "BENCH_BASELINE.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        base = json.load(fh)
    if base.get("sf") != sf:
        print(f"[bench] baseline is sf={base.get('sf')}, run is sf={sf}; "
              "skipping comparison", file=sys.stderr)
        return None
    # Post-round-3 headline additions have no entry in the FROZEN round-3
    # baseline; BENCH_PINS_EXT.json pins them separately (round-11,
    # VERDICT item 2) so they get per-query deltas and the >2x regression
    # flag WITHOUT entering the common-subset ratio — keeping that ratio
    # comparable across rounds.
    ext_path = os.path.join(here, "BENCH_PINS_EXT.json")
    ext = {}
    if os.path.exists(ext_path):
        with open(ext_path) as fh:
            ext_doc = json.load(fh)
        if ext_doc.get("sf") == sf:
            ext = ext_doc.get("queries", {})
    flagged = []
    for name, secs in per_query.items():
        ref = base.get("queries", {}).get(name)
        src = "baseline"
        if ref is None and name in ext:
            ref, src = ext[name], "ext-pin"
        if ref is None:
            print(f"[bench] {name}: {secs:.3f}s (no baseline)", file=sys.stderr)
            continue
        ratio = secs / ref if ref else float("inf")
        mark = "  <-- REGRESSION >2x" if ratio > 2.0 else ""
        print(f"[bench] {name}: {secs:.3f}s vs {src} {ref:.3f}s "
              f"({ratio:.2f}x){mark}", file=sys.stderr)
        if ratio > 2.0:
            flagged.append(name)
    # compare totals over the INTERSECTION so newly-added headline queries
    # don't inflate the ratio against an older, smaller baseline
    both = [n for n in per_query if n in base.get("queries", {})]
    total = sum(per_query[n] for n in both)
    ref_total = sum(base["queries"][n] for n in both)
    if not both or ref_total == 0:
        print("[bench] no overlap with baseline queries; skipping totals",
              file=sys.stderr)
        return None
    print(f"[bench] TOTAL (common {len(both)} queries) {total:.3f}s vs "
          f"baseline {ref_total:.3f}s ({total / ref_total:.2f}x); "
          f"{len(flagged)} queries over 2x {flagged if flagged else ''}",
          file=sys.stderr)
    out = {
        "baseline_common_sec": round(total, 3),
        "baseline_common_ref_sec": round(ref_total, 3),
        "baseline_common_ratio": round(total / ref_total, 3),
        "regressed_over_2x": flagged,
    }
    ext_ratios = {
        n: round(per_query[n] / ext[n], 2)
        for n in per_query
        if n in ext and n not in base.get("queries", {}) and ext[n]
    }
    if ext_ratios:
        out["ext_pin_ratios"] = ext_ratios
    if samples:
        n_rounds = min(len(v) for v in samples.values())
        per_round = [
            round(
                sum(samples[n][r] for n in both) / ref_total, 3
            )
            for r in range(n_rounds)
        ]
        out["baseline_ratio_rounds"] = per_round
        out["baseline_ratio_median"] = sorted(per_round)[len(per_round) // 2]
        out["baseline_ratio_spread"] = [min(per_round), max(per_round)]
    return out


def main() -> None:
    spark = get_spark("bench")
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0
    # Host-phase sentinel, pre-suite (see module docstring): warm once
    # (codegen), then median of 3.
    sentinel_pre = host_sentinel(spark, warm=True)
    # Warmup: one unmeasured pass over the WHOLE headline set — JVM +
    # whole-stage-codegen compile (Janino bills ~1-2 s to every distinct
    # generated class on its first run, with high machine-state variance),
    # parquet footer caches, the Python/Arrow worker pool, and the
    # persisted dedup/LSH indices. Round 2's bench warmed 5 of its own
    # measured queries for exactly this reason; warming all of them applies
    # the same steady-state billing uniformly instead of leaving
    # first-compile noise on the rest.
    for name in HEADLINE:
        run_once(spark, name, SF_DIR)
    # Measure: median of 3 runs per query, rounds interleaved so a GC
    # pause lands on one round of many queries instead of poisoning a
    # single query's only sample (observed: ±1 s swings on sub-second
    # queries flag spurious >2x "regressions" under single-run billing).
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(3):
        for name in HEADLINE:
            samples[name].append(run_once(spark, name, SF_DIR))
    # Post-suite sentinel brackets the measured rounds.
    sentinel_post = host_sentinel(spark)
    per_query = {
        name: round(sorted(ts)[1], 3) for name, ts in samples.items()
    }
    total = round(sum(per_query.values()), 3)
    comparison = compare_to_baseline(per_query, sf, samples)
    payload = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "host_sentinel": {"pre_sec": sentinel_pre, "post_sec": sentinel_post},
    }
    if comparison:
        payload.update(comparison)
    # Emit the one machine-readable line ONLY after the JVM is down:
    # round 6's BENCH artifact came back "parsed: null" because a
    # late-arriving `WARN DAGScheduler` line (the JVM writes to the same
    # fd 1 asynchronously) interleaved into the middle of the JSON
    # payload. spark.stop() joins the JVM logging before we print, and the
    # explicit flush puts the payload in one write. The FULL payload
    # always goes to BENCH_LAST.json; the stdout line must additionally
    # fit the driver's 2000-char stdout-tail window (round-10's
    # BENCH_r10.json came back "parsed: null" because the 2156-char line
    # lost its head to the tail truncation — VERDICT r10 item 5), so if
    # the full line exceeds the budget the stdout copy is compacted and
    # notes where the rest lives.
    full_line = json.dumps(payload)
    _STDOUT_BUDGET = 1950
    core_extra = (
        "baseline_common_ratio", "baseline_ratio_median",
        "regressed_over_2x", "ext_pin_ratios", "host_sentinel",
    )
    core = {
        k: payload[k]
        for k in ("metric", "value", "unit", "queries", "sf")
        if k in payload
    }
    extras = {k: payload[k] for k in core_extra if k in payload}
    # compaction ladder: full payload → 3dp queries with the ratio
    # extras → 2dp queries → finally NO per-query map at all, which is
    # bounded regardless of how many queries the headline set grows to.
    core2 = dict(core)
    if isinstance(core2.get("queries"), dict):
        core2["queries"] = {
            k: round(v, 2) for k, v in core2["queries"].items()
        }
    candidates = [
        payload,
        {**core, **extras, "full": "BENCH_LAST.json"},
        {**core2, **extras, "full": "BENCH_LAST.json"},
        {
            **{k: payload[k] for k in ("metric", "value", "unit", "sf")
               if k in payload},
            **extras,
            "n_queries": len(core.get("queries") or {}),
            "full": "BENCH_LAST.json",
        },
    ]
    line = full_line
    for cand in candidates:
        line = json.dumps(cand)
        if len(line) <= _STDOUT_BUDGET:
            break
    if len(line) > _STDOUT_BUDGET:
        print(
            f"bench: WARNING stdout line {len(line)} chars exceeds the "
            f"{_STDOUT_BUDGET} budget even with no per-query map — the "
            "driver's 2000-char tail will truncate it",
            file=sys.stderr,
        )
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - stop() failure must not void the numbers
        pass
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_LAST.json"), "w") as fh:
        fh.write(full_line + "\n")
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
