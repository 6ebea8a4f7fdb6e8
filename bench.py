"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS] and print TWO JSON lines — full-registry detail
first, then a compact headline line LAST (the driver tail-parses the final
stdout line, so it must stay small and complete):

    {"metric": "full_registry_detail", "families": {...}, "full": {...}, ...}
    {"metric": "headline_queries_total_wall", "value": N, "unit": "sec",
     "queries": {...}, "sf": ...}

`value`/`queries` stay the headline-set total (round-over-round comparable).
`full` adds a single-shot timing for EVERY registered query, grouped into
`families` subtotals, so per-family regressions are visible — bounded by
$SPARK_GRAFT_BENCH_BUDGET seconds (default 420); anything unvisited when the
budget runs out is listed in `not_benched` rather than silently dropped.

Each query is forced to full execution with a count() action on the final
plan, which executes every operator.

Load-proofing (VERDICT r04 #1 — two consecutive rounds lost signal to
ambient host load): the artifact records loadavg + cpu count at start and
end, an idle gate WARNS (or refuses under $SPARK_GRAFT_BENCH_STRICT=1) when
the host is already busy, a pinned 3-query calibration set (protocol
"v2-3query-warm-bo5", each query warm best-of-5, summed — see
CALIBRATION_PROTOCOL below) runs first so every timing can be read both raw
and calibration-normalized, and the headline set is best-of-3 (median-free
min, like before, but with one more draw against transient spikes). The round label comes from $SPARK_GRAFT_ROUND
when set (ADVICE r04: within-round recaptures must label themselves
explicitly); the max(BENCH_r*)+1 inference stays as the driver fallback and
warns when it replaces an existing BENCH_FULL file.

Round 10 (VERDICT r09 #2/#5): a pinned 1-query probe re-runs every ~50
full-pass queries and its min-of-2 time is judged against the start
calibration — mid-pass load that clears before the end calibration now
stamps `contaminated: true` too; `pass_order` records the measured order so
every reading is positionable against the probes. The committed
BENCH_FULL_r{N}.json is best-of-N same-tree passes: a re-run keeps the
min-total contaminated:false body and appends every pass's total to
`same_day_pass_totals`.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from weather_data_pipeline_spark.plans.queries import REGISTRY  # noqa: E402
from weather_data_pipeline_spark.session import (  # noqa: E402
    get_spark,
    prewarm_python_workers,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# wall budget for the WHOLE bench process (headline + full pass), so a
# host-contention spike during the headline runs cannot push total wall past
# a driver timeout and lose the output entirely; unvisited queries are
# reported in `not_benched`, never silently dropped
FULL_BUDGET = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "480"))
# extra wall allowance, AFTER the full pass, for re-drawing outlier readings
# (single-shot timings that look like contention spikes — see the
# re-measurement block in main)
RETRY_BUDGET = float(os.environ.get("SPARK_GRAFT_BENCH_RETRY_BUDGET", "60"))
_T_START = time.perf_counter()

# Calibration protocol v2 — PINNED as of round 7 (VERDICT r06 #3: the
# anchor recipe changed semantics mid-series, r1-r5 cold-ish q1 best-of-3
# vs r6 warm q1 best-of-5, making `full_normalized` non-comparable across
# rounds). The permanent recipe:
#   - a 3-query set (scan-agg-join + window + text scan) instead of a
#     single query, damping single-query JIT variance;
#   - each query WARM best-of-5 after the JVM warm-up block (q1's codegen
#     keeps improving through ~run 4 of a fresh JVM);
#   - calibration scalar = SUM of the three bests; normalization scale =
#     REFERENCE_CALIBRATION_SEC / measured sum.
# Timings normalize as raw * scale — a host running 30 % slow inflates the
# calibration sum by the same ~30 %, so normalized numbers stay
# round-over-round comparable even when ambient load isn't. Only meaningful
# at the default sf0.1; other SFs record the measurement but skip
# normalization. cal_info names the protocol version so cross-round series
# can be filtered to like-for-like (r1-r5 = "q1-coldish-bo3", r6 =
# "q1-warm-bo5", r7+ = "v2-3query-warm-bo5").
# v3 (r12): the round-12 optimizations made the three calibration queries
# themselves ~1.5x faster (the load_table session memo removed 60-120 ms of
# per-call driver work from EVERY query, calibration included), so the r7
# reference sum of 0.944 s reads every clean pass as scale ~1.4 — above the
# 1.3 contamination band — and would stamp every future capture
# contaminated. Measurement-bug fix, declared per the round rules: the
# TIMED REGION and the raw per-query numbers are untouched and stay
# round-over-round comparable; only the normalization anchor is re-pinned
# (fresh-JVM warm best-of-5 sums on the r12 tree, idle host, three
# sessions: 0.565 / 0.633 / 0.624 — median 0.62). BENCH_PROTOCOL bumped so
# best-of-N series never merge passes normalized under different anchors.
CALIBRATION_PROTOCOL = "v3-3query-warm-bo5-r12ref"
CALIBRATION_QUERIES = [
    "q1_pricing_summary",  # scan + group agg (codegen-heavy)
    "rolling_mean_events",  # window exec over one exchange
    "token_stats_documents",  # wide text scan, HOF-heavy projection
]
# v2 reference (r7-r11 artifacts): 0.944 = q1 0.485 + rolling_mean 0.230 +
# token_stats 0.229, measured on the pre-r12 code surface
REFERENCE_CALIBRATION_SEC = 0.62
# kept for backward reading of r1-r6 artifacts; no longer used to normalize
CALIBRATION_QUERY = "q1_pricing_summary"
# idle gate: loadavg per cpu above this at START means another workload is
# already running and every number will be inflated. Gate on the MAX of the
# 1-min and 5-min averages (VERDICT r08 #1: the r8 driver capture passed a
# 1-min-only gate at 4.36/32 while the 5-min average was 6.26 and the pass
# calibrated at scale 0.3868 — a recently-quiesced-but-still-busy host fools
# a 1-minute window).
IDLE_LOAD_PER_CPU = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "0.25"))

# contamination stamp (VERDICT r08 #1): even a passed idle gate can't see
# load that ARRIVES mid-pass. The calibration set runs at both START and END
# of the pass; when either scale leaves this band, or the two disagree by
# more than the drift fraction, the artifact stamps itself
# `contaminated: true` so no reader trusts its raw numbers.
CAL_SCALE_BAND = (0.7, 1.3)
CAL_DRIFT_FRAC = 0.2

# mid-pass probes (VERDICT r09 #2): the start+end calibration pair still has
# a blind spot — load that arrives AFTER the start calibration and clears
# BEFORE the end one passes both probes (the r9 committed capture read 36%
# over the same-tree morning draws with exactly this shape). Every
# MIDPASS_PROBE_EVERY measured full-pass queries, one pinned query re-runs
# (min-of-2 draws, ~1 s) and its time is judged against the start
# calibration's reading of the SAME query.
MIDPASS_PROBE_QUERY = "q1_pricing_summary"
MIDPASS_PROBE_EVERY = int(os.environ.get("SPARK_GRAFT_BENCH_PROBE_EVERY", "50"))
# a probe slower than the fastest earlier reading by this factor flags even
# when JIT warmth has already pushed probes below the start value
MIDPASS_SLOWDOWN_X = 1.5

# Measurement-semantics version (ADVICE r10): _code_tree_id deliberately
# excludes bench.py from the code-surface hash so doc-only bench edits don't
# break best-of-N merging — but that also let passes measured under DIFFERENT
# instrument semantics (a changed _run_once, warmup recipe, calibration or
# contamination protocol) merge as "same tree", mixing non-comparable totals
# in same_day_pass_totals. This constant is folded into the tree hash and
# MUST be bumped on any change to what a recorded number MEANS. History:
#   v1 = r7-r9 (3-query calibration, no probes)
#   v2 = r10   (mid-pass probes, best-of-N merge)
#   v3 = r11   (cpu-MHz thermal proxy in the contamination verdict)
#   v4 = r12   (calibration anchor re-pinned on the r12-optimized code —
#               see CALIBRATION_PROTOCOL; normalized values are not
#               comparable to v3 artifacts, raw values are)
BENCH_PROTOCOL = "v4"

# thermal / afternoon proxy (VERDICT r10 #4): the third r10 same-day pass
# read 214.1 s with contaminated:false — 16% over the 184.6 s body on
# identical code, invisible to loadavg + calibration because the slowness
# was sustained across the whole pass. Sustained cpu clocks sitting this
# fraction below the start reading stamp the draw. One-sided, like every
# other rule: clocks ABOVE start (turbo kicking in) are benign.
THERMAL_DROP_FRAC = 0.10


def _cpu_mhz() -> float | None:
    """Mean current CPU clock in MHz, or None when the host exposes neither
    cpufreq sysfs nor per-cpu MHz lines in /proc/cpuinfo (a fixed-clock VM
    reads a constant — the thermal rule is then a recorded no-op)."""
    try:
        import glob

        freqs = []
        for p in glob.glob(
            "/sys/devices/system/cpu/cpu*/cpufreq/scaling_cur_freq"
        ):
            with open(p) as fh:
                freqs.append(int(fh.read().strip()) / 1000.0)
        if freqs:
            return round(sum(freqs) / len(freqs), 1)
        with open("/proc/cpuinfo") as fh:
            mhz = [
                float(line.split(":", 1)[1])
                for line in fh
                if line.startswith("cpu MHz")
            ]
        return round(sum(mhz) / len(mhz), 1) if mhz else None
    except (OSError, ValueError):
        return None


def thermal_verdict(
    mhz_start: float | None,
    mhz_end: float | None,
    probe_mhz: list[float | None] | None = None,
) -> bool:
    """True when the host's sustained clocks testify that this pass ran
    thermally throttled (or afternoon-downclocked) relative to its own start:
    the END reading, or ANY mid-pass probe reading, sits more than
    THERMAL_DROP_FRAC below the start clock. No reading → no verdict (a VM
    with no DVFS visibility must not flag, and must not mask either)."""
    if mhz_start is None or mhz_start <= 0:
        return False
    floor = mhz_start * (1.0 - THERMAL_DROP_FRAC)
    for m in [mhz_end] + list(probe_mhz or []):
        if m is not None and m < floor:
            return True
    return False


def midpass_contamination(
    q1_start: float | None, probe_secs: list[float]
) -> bool:
    """True when any mid-pass probe testifies that load arrived during the
    full pass. One-sided toward slowness, like contamination_verdict
    (warmth only ever makes probes FASTER):

    - a probe slower than the start calibration's reading of the same query
      by more than CAL_DRIFT_FRAC (the end-calibration drift rule applied
      mid-pass);
    - a probe slower than the FASTEST earlier reading (start or any prior
      probe) by more than MIDPASS_SLOWDOWN_X — catches load that arrives
      after deep JIT warmth has pushed probes well below the start value,
      which the start-relative rule alone cannot see."""
    if not q1_start or not probe_secs:
        return False
    best = q1_start
    for p in probe_secs:
        if p > q1_start / (1.0 - CAL_DRIFT_FRAC):
            return True
        if p > MIDPASS_SLOWDOWN_X * best:
            return True
        best = min(best, p)
    return False


def _code_tree_id(here: str) -> str:
    """Identity of the MEASURED code surface: sha256 over the package's .py
    files plus __spark_entry__.py — deliberately NOT the git HEAD and NOT
    bench.py itself. Doc/artifact commits between same-day passes must not
    break best-of-N merging (the git hash would), while any change to the
    code the queries execute must; bench.py is the measuring instrument,
    whose cosmetic changes are visible in the artifact structure, not in
    what the queries cost. The one instrument property that DOES change
    comparability — measurement semantics — is folded in via BENCH_PROTOCOL
    (ADVICE r10): bumping it forces a fresh best-of-N series instead of
    merging totals measured under different rules."""
    import hashlib

    h = hashlib.sha256()
    h.update(f"bench-protocol-{BENCH_PROTOCOL}".encode())
    paths = [os.path.join(here, "__spark_entry__.py")]
    for d, _, fs in os.walk(os.path.join(here, "weather_data_pipeline_spark")):
        for f in fs:
            if f.endswith(".py"):
                paths.append(os.path.join(d, f))
    for p in sorted(paths):
        h.update(os.path.relpath(p, here).encode())
        try:
            with open(p, "rb") as fh:
                h.update(fh.read())
        except OSError:
            h.update(b"<unreadable>")
    return h.hexdigest()[:12]


def _measured_names(d: dict) -> set:
    """Queries with a real reading in an artifact body; errored (-1) and
    unvisited excluded, mirroring the full_total sum. Shared by the merge
    decision and its explanation message (ADVICE r10)."""
    return {
        n
        for n, v in (d.get("full") or {}).items()
        if isinstance(v, (int, float)) and v > 0
    }


def choose_full_artifact(
    prior: dict | None, detail: dict, this_pass: dict
) -> dict:
    """Best-of-N merge decision for the committed BENCH_FULL artifact
    (VERDICT r09 #5). ``prior`` must already be validated as same round /
    tree / sf (or None). The returned dict is the artifact BODY to write:
    the prior wins only when it is clean AND at least as COMPLETE (totals
    over different measured query sets are incomparable — a budget-
    truncated pass is cheaper by construction and must never beat a full
    one on total) AND (this pass is contaminated or slower); every pass's
    total lands in same_day_pass_totals either way, so 'which draws
    existed' is never lost."""
    pass_totals = (prior or {}).get("same_day_pass_totals", []) + [this_pass]
    a = _measured_names(prior or {})
    b = _measured_names(detail)
    keep_prior = (
        prior is not None
        and not prior.get("contaminated", False)
        and (
            detail.get("contaminated", False)
            or len(a) > len(b)
            or (
                a == b
                and prior.get("full_total", float("inf"))
                <= detail["full_total"]
            )
        )
    )
    chosen = prior if keep_prior else detail
    chosen["same_day_pass_totals"] = pass_totals
    return chosen


def contamination_verdict(
    scale_start: float | None, scale_end: float | None
) -> bool:
    """True when this pass's raw timings are untrustworthy by the artifact's
    own testimony. Contamination = HOST SLOWNESS, which only ever LOWERS the
    calibration scale (scale = reference/measured), so the verdict is
    one-sided (measured on the first r9 capture: the END calibration runs
    after 201 queries of JIT/page-cache deepening and legitimately reads
    1.5-2x FASTER than the fresh-JVM-plus-warmup reference recipe — a
    symmetric band/drift check would stamp every healthy capture):

    - scale_start outside CAL_SCALE_BAND — the r8 failure (0.3868, host
      2.6x slow, passed the old 1-min loadavg gate); the high side also
      flags, since a start scale >1.3 means the pinned protocol itself was
      not followed (reference is fresh-JVM warm best-of-5);
    - scale_end below the band floor — load present at end of pass;
    - scale_end SLOWER than scale_start by more than CAL_DRIFT_FRAC —
      load arrived mid-pass. End faster than start is expected warmth.

    Off the default sf there is no reference scale, so no verdict."""
    if scale_start is None:
        return False
    lo, hi = CAL_SCALE_BAND
    if scale_start < lo or scale_start > hi:
        return True
    if scale_end is not None:
        if scale_end < lo:
            return True
        if scale_end < scale_start * (1.0 - CAL_DRIFT_FRAC):
            return True
    return False

# Headline set: one per operator family — scan/agg/join/window/custom-window/
# text/dedup/similarity/streaming/feature-pipeline
HEADLINE = [
    "q1_pricing_summary",
    "group_summary_events",
    "global_stats_events",
    "revenue_by_nation",
    "top_customers_by_revenue",
    "latest_event_per_user",
    "lag_events",
    "rolling_mean_events",
    "rolling_std_events",
    "ffill_limited_events",
    "interpolate_events",
    "time_features_events",
    "weather_indices_events",
    "corr_lineitem",
    "token_stats_documents",
    "quality_score_documents",
    "exact_dedup_stats_documents",
    "minhash_lsh_candidates_documents",
    "simhash_documents",
    "cosine_topk_embeddings",
    "streaming_hourly_agg",
    "feature_pipeline_weather",
    "q3_shipping_priority",
    "asof_join_events",
    "session_stats_events",
    "salted_agg_events",
    "q7_volume_shipping",
    "q21_waiting_supplier",
    "hash_split_documents",
    "chunk_documents",
    "bigram_lm_documents",
    "int8_quantize_embeddings",
    "zscore_anomaly_events",
    "cohort_retention_events",
]

# family classification for the full-registry pass (first match wins)
_FAMILY_RULES: list[tuple[str, str]] = [
    (r"^streaming_", "streaming"),
    (r"^ml_", "ml_train"),
    (r"^(feature_pipeline|weather_indices|time_features|temp_change|"
     r"label_encode|standardize|minmax_normalize|winsorize|quality_report|"
     r"temporal_split|walk_forward)", "features_ml_prep"),
    (r"^(q\d+_|sql_api_q1|revenue_by_nation|customers_without_orders|"
     r"customer_order_activity|top_customers_by_revenue|pareto_customers|"
     r"daily_order_vs_ship)", "join_tpch"),
    (r"^(asof_join|band_join)", "join_custom"),
    (r"^multimodal_", "multimodal"),
    (r"(minhash|jaccard|simhash|dedup|shingle|neardup|pagerank|"
     r"decontaminate|fingerprint|winnowing|dup_cluster|dup_span|triangle|"
     r"kcore|split_leakage|edit_distance|tfidf_cosine)",
     "dedup"),
    (r"(chunk_documents|pack_sequences|hash_split|stratified_sample|"
     r"weighted_sample|per_source_cap|training_corpus|mixture_allocation|"
     r"curriculum|prompt_completion|length_bucket|source_quality_profile)",
     "corpus_assembly"),
    (r"(_embeddings$|^label_centroids|^nearest_centroid|^embedding_norm|"
     r"^embedding_outliers)",
     "similarity"),
    (r"(token|bpe|bm25|rrf|language_id|quality_score|word_counts|tfidf|pmi|oov|pii_scrub|"
     r"unigram|bigram|repetition|string_funcs|ngram_novelty|zipf|"
     r"char_entropy|quality_rules|heldout_lm)", "text"),
    (r"(_drift_|chisq_type)", "drift_quality"),
    (r"(^lag_|^lead_|^diff_|rolling|ffill|interpolate|ewma|zscore|cusum|"
     r"seasonal|ohlc|trend_slope|drawdown|mad_outliers|gapfill|"
     r"inter_event_gap|session_|funnel|cohort|transition|first_last|"
     r"^ranking|cumulative|forward_rain|latest_event)", "window_ts"),
    (r"(^recent_events_scan|^topk_events|row_null_threshold)", "scan"),
]


def family(name: str) -> str:
    for pat, fam in _FAMILY_RULES:
        if re.search(pat, name):
            return fam
    return "agg_quality"  # aggs, quality checks, set ops, pivots, sketches


# Queries whose first call builds (or rides) a session-materialized shared
# frame (_neardup_cc / _corpus_manifest / _doc_signals in plans/queries.py):
# the single-shot reading IS the honest cost — the first consumer pays the
# shared build, later consumers ride it, exactly like the ml_train suite
# cache. A re-draw would hit the warm cache and record a near-zero time for
# a query that genuinely cost seconds (observed: training_corpus_manifest
# 5.67 s first draw vs 0.06 s warm re-draw), so these are exempt from the
# outlier re-measurement pass, same as ml_train.
SESSION_CACHED = {
    # ann_ivf/ivf_pq_adc share the session's ONE coarse quantizer fit
    # (similarity._coarse_model, r11): a warm re-draw would skip the ~1.8 s
    # training the single-shot reading honestly includes
    "ann_ivf_topk_embeddings",
    "ivf_pq_adc_topk_embeddings",
    # the six _lsh_candidates/_lsh_edges consumers share one session-
    # materialized MinHash-LSH candidate edge set (r11 opt);
    # minhash_lsh_candidates_documents itself stays fresh-computing (it is
    # in HEADLINE)
    "triangle_stats_documents",
    "kcore_documents",
    "split_leakage_documents",
    "edit_distance_pairs_documents",
    "incremental_dedup_documents",
    "minhash_est_error_documents",
    # the three BPE consumers share one session _bpe_learn induction (r11)
    "bpe_merge_rules_documents",
    "bpe_vocab_documents",
    "bpe_encode_documents",
    # shares the session's one materialized per-doc bigram-NLL frame with
    # _doc_signals (curriculum / source_quality_profile, already listed)
    "bigram_nll_documents",
    "shingle_jaccard_pairs_documents",
    "neardup_components_documents",
    "dedup_keep_list_documents",
    "dup_cluster_size_distribution",
    "training_corpus_manifest",
    "training_corpus_stats",
    "curriculum_documents",
    "source_quality_profile_documents",
}

# Queries whose registered callable memoizes its CONSTRUCTED PLAN per
# session (session_cache.memo) — feature_pipeline_weather's memoized plan
# holds the ~1.7 s of py4j plan building AND the eager label-encode
# vocab-fit job (a real data-scanning Spark job that runs at construction
# time). Best-of-3 would time the warm memo on draws 2-3 and skip that job
# — the same warm-redraw hazard the SESSION_CACHED/HEADLINE disjointness
# assert exists to prevent. These stay in HEADLINE (the flagship must stay
# round-over-round visible) but are measured FIRST-DRAW ONLY,
# build-inclusive, and exempted from the outlier re-draw pass.
MEMOIZED_PLAN = {"feature_pipeline_weather"}


def _session_desc(spark) -> dict:
    """Self-description of the measuring session (VERDICT r11 #2): the
    artifact must be able to PROVE which width it ran at — `load.ncpus` is
    os.cpu_count(), not the session's master, so an 8-core scaling run was
    previously indistinguishable from a 32-core one in the printed JSON."""
    return {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }


def _drop_stream_tables(spark) -> None:
    # streaming queries leave their memory-sink tables pinned in the JVM;
    # drop them so later queries don't pay the GC pressure
    for t in spark.catalog.listTables():
        if t.name.startswith(("stream_out_", "stateful_out_")):
            spark.catalog.dropTempView(t.name)


def _run_once(spark, name: str) -> float:
    t0 = time.perf_counter()
    REGISTRY[name].spark(spark, SF_DIR).count()
    dt = time.perf_counter() - t0
    _drop_stream_tables(spark)
    return dt


def main() -> None:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    ncpus = os.cpu_count() or 1
    load_start = os.getloadavg()
    gate_load = max(load_start[0], load_start[1])  # 1-min AND 5-min window
    idle_ok = gate_load / ncpus <= IDLE_LOAD_PER_CPU
    if not idle_ok:
        msg = (
            f"bench: host NOT idle (max(1m,5m) loadavg {gate_load:.2f} on "
            f"{ncpus} cpus > {IDLE_LOAD_PER_CPU}/cpu) — timings will be "
            "inflated"
        )
        if os.environ.get("SPARK_GRAFT_BENCH_STRICT"):
            print(msg + "; refusing under SPARK_GRAFT_BENCH_STRICT", file=sys.stderr)
            sys.exit(3)
        print(msg, file=sys.stderr)
    spark = get_spark("wdp-bench")
    # JVM + whole-stage-codegen + parquet-footer warmup: a scan-agg-join that
    # exercises the codegen/JIT paths so the first measured query doesn't pay
    # one-time compilation cost.
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    warm = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    warm.groupBy("l_returnflag").count().count()
    # Python-worker pool prewarm (r9, SIM_PROBE.json: fork + numpy/pandas
    # import across up to 32 workers was the named cause of the historical
    # cosine_near_dup 3-10x single-shot outliers). get_spark warms only the
    # JVM; the registry runs Pandas UDFs, so the bench grows the pool here,
    # before any timed draw. SPARK_GRAFT_NO_PREWARM=1 skips it — the
    # diagnostic escape hatch for A/B-ing the pool's session-wide cost (32
    # resident workers ≈ 4 GB RSS) — and it must honor the SAME env gate as
    # get_spark, or the diagnostic flag would silently measure the
    # prewarmed configuration anyway.
    if not os.environ.get("SPARK_GRAFT_NO_PREWARM"):
        prewarm_python_workers(spark)

    # calibration set FIRST (protocol v2, pinned r7 — see the block comment
    # at CALIBRATION_PROTOCOL): three diverse queries, each warm best-of-5,
    # summed into one number that captures how slow THIS host is right now,
    # so every other timing can be normalized. Five draws per query:
    # whole-stage codegen keeps improving through ~run 4 of a fresh JVM
    # (q1 measured 0.79/0.75/0.60/0.58 after the cold draw), and an
    # UNDER-warmed calibration overstates the host correction for the
    # fully-warm readings that follow it.
    # The protocol is PINNED — a calibration query missing from the registry
    # would silently sum fewer queries against the 3-query reference number
    # and inflate cal_scale (ADVICE r07). Fail loudly instead.
    # same failure mode as the calibration set (ADVICE r07): a renamed
    # cached query would silently re-enter the re-draw pass and record a
    # warm-cache near-zero reading
    missing_cached = sorted(SESSION_CACHED - set(REGISTRY))
    assert not missing_cached, (
        f"SESSION_CACHED queries {missing_cached} missing from REGISTRY; "
        "update the set alongside the rename"
    )
    cached_headline = sorted(SESSION_CACHED & set(HEADLINE))
    assert not cached_headline, (
        f"session-cached queries {cached_headline} in the HEADLINE set; "
        "best-of-3 would time warm cache reads — keep them full-pass only"
    )
    missing_memo = sorted(MEMOIZED_PLAN - set(REGISTRY))
    assert not missing_memo, (
        f"MEMOIZED_PLAN queries {missing_memo} missing from REGISTRY; "
        "update the set alongside the rename"
    )
    memo_cal = sorted(MEMOIZED_PLAN & set(CALIBRATION_QUERIES))
    assert not memo_cal, (
        f"memoized-plan queries {memo_cal} in the calibration set; warm "
        "best-of-5 would time the plan memo, corrupting the host scalar"
    )
    missing_cal = [n for n in CALIBRATION_QUERIES if n not in REGISTRY]
    assert not missing_cal, (
        f"calibration queries {missing_cal} missing from REGISTRY; the "
        f"{CALIBRATION_PROTOCOL} protocol is pinned — re-add the query or "
        "define a new protocol version with a new reference_sec"
    )
    at_default_sf = os.path.realpath(SF_DIR) == os.path.realpath(
        "/root/testdata/sf0.1"
    )

    def _run_calibration() -> tuple[dict, float | None]:
        per_query = {
            name: round(min(_run_once(spark, name) for _ in range(5)), 4)
            for name in CALIBRATION_QUERIES
        }
        total_sec = round(sum(per_query.values()), 4)
        scale = (
            round(REFERENCE_CALIBRATION_SEC / total_sec, 4)
            if at_default_sf and total_sec > 0
            else None
        )
        info = {
            "protocol": CALIBRATION_PROTOCOL,
            "queries": per_query,
            "sec": total_sec,
            "reference_sec": (
                REFERENCE_CALIBRATION_SEC if at_default_sf else None
            ),
            "scale": scale,  # multiply raw timings by this to normalize
        }
        return info, scale

    cal_info, cal_scale = _run_calibration()
    # thermal proxy sample point 1/3 (VERDICT r10 #4): the start clock is
    # the reference every later reading is judged against
    mhz_start = _cpu_mhz()

    # best-of-3 per query, UNIFORMLY — including the calibration queries,
    # whose warm best-of-5 draws stay inside cal_info only (reusing min-of-5
    # here would bias those two headline entries low vs every other query
    # and vs rounds 1-6 — ADVICE r07 cross-round-comparability fix).
    timings: dict[str, float] = {}
    memo_warm: dict[str, float] = {}
    # every headline draw is recorded, not just the min: the r9 A/B
    # adjudication (BENCH_AB_r09.json) showed per-draw spread is the
    # evidence a regression read needs — a +30% single capture with
    # overlapping draw ranges is host drift, not code
    headline_draws: dict[str, list[float]] = {}
    names = [n for n in HEADLINE if n in REGISTRY]
    for name in names:
        if name in MEMOIZED_PLAN:
            # first draw IS the headline number — build-inclusive (plan
            # construction + the eager vocab-fit job); re-draws would read
            # the warm plan memo and skip a real data-scanning job
            # (ADVICE r08). The warm repeat latency — the reference's 2 s
            # prediction-latency anchor is a WARM-pipeline number — is
            # recorded separately, clearly labeled, never summed.
            timings[name] = round(_run_once(spark, name), 4)
            warm_draws = [round(_run_once(spark, name), 4) for _ in range(2)]
            memo_warm[name] = min(warm_draws)
            headline_draws[name] = [timings[name]] + warm_draws
        else:
            draws = [round(_run_once(spark, name), 4) for _ in range(3)]
            timings[name] = min(draws)
            headline_draws[name] = draws
    total = round(sum(timings.values()), 4)

    # full-registry pass, single shot each, budget-bounded; headline queries
    # reuse their (warmer, best-of-2) timing instead of running a third time
    full: dict[str, float] = dict(timings)
    not_benched: list[str] = []
    # cheap families first so a budget cut hits the expensive tail (the ML
    # training queries — minutes each — go last, cheapest-first, so a budget
    # cut skips the most expensive training runs, which correctness already
    # covers at sf0.01)
    _ml_cost = {
        "ml_rain_classifier_metrics": 0,  # builds the rain cache (1 model)
        "ml_calibration_feed": 1,  # shares the rain cache
        "ml_train_eval_metrics": 2,  # builds the suite cache (5 models)
        "ml_model_comparison_feed": 3,  # shares the suite
        "ml_feature_importance_feed": 4,  # shares the suite's RF
    }
    order = sorted(
        (n for n in REGISTRY if n not in full),
        key=lambda n: (
            family(n) == "ml_train",
            _ml_cost.get(n, 0),
            family(n),
            n,
        ),
    )
    # mid-pass probes (VERDICT r09 #2) + measured order: json dumps with
    # sort_keys, so without an explicit list the artifact loses WHEN in the
    # pass each query ran — pass_order makes per-query readings positionable
    # against the probes (which third of the pass, before/after which probe)
    midpass_probes: list[dict] = []
    pass_order: list[str] = []
    since_probe = 0
    for name in order:
        if time.perf_counter() - _T_START > FULL_BUDGET:
            not_benched.append(name)
            continue
        try:
            full[name] = round(_run_once(spark, name), 4)
        except Exception:
            full[name] = -1.0  # errored; visible, not silently dropped
        pass_order.append(name)
        since_probe += 1
        if since_probe >= MIDPASS_PROBE_EVERY:
            since_probe = 0
            try:
                p = round(
                    min(_run_once(spark, MIDPASS_PROBE_QUERY) for _ in range(2)),
                    4,
                )
                midpass_probes.append(
                    # mhz: thermal proxy sample point 2/3 — sustained
                    # downclocking mid-pass flags even when it clears by the
                    # end calibration
                    {"after_n": len(pass_order), "sec": p, "mhz": _cpu_mhz()}
                )
            except Exception:
                pass  # a failed probe must not lose the pass

    # Outlier re-measurement: a single-shot reading is one draw against
    # ambient load, and two rounds of artifacts carried multi-second
    # contention spikes that a warm re-run refutes (cosine_near_dup: 18.5 s
    # single-shot vs 1.6-3.9 s on every controlled re-measure, r4+r5). Any
    # reading >3x its family median (and >2 s) gets ONE more draw, min
    # kept; ml_train is exempt (training cost is genuinely the reading).
    # Both draws are recorded so the artifact shows what was corrected.
    fam_vals: dict[str, list[float]] = {}
    for name, dt in full.items():
        if dt > 0:
            fam_vals.setdefault(family(name), []).append(dt)
    fam_median = {
        f: sorted(v)[len(v) // 2] for f, v in fam_vals.items()
    }
    # similarity re-draws at >2x (not >3x): both r4->r5 "regressions" in
    # this family (pca 1.68->2.87 s, hard_negatives 1.70->2.50 s) sat in
    # the 1.5-3x band and were adjudicated as ambient noise by controlled
    # best-of-3 (0.90 s / 1.77 s) — the block-grid/MLlib-fit queries here
    # are the most contention-sensitive in the registry
    def _redraw_factor(fam: str) -> float:
        return 2.0 if fam == "similarity" else 3.0

    suspects = sorted(
        (
            (dt, name)
            for name, dt in full.items()
            # dt > 0 also covers the family-wide-error case: a family whose
            # every reading errored (-1.0) never enters fam_median, and a
            # KeyError here would lose the whole run's artifact (ADVICE r05)
            if dt > 0
            and family(name) != "ml_train"
            and name not in SESSION_CACHED
            and name not in MEMOIZED_PLAN
            and dt
            > max(
                2.0,
                _redraw_factor(family(name))
                * fam_median.get(family(name), float("inf")),
            )
        ),
        reverse=True,
    )
    # Spend RETRY_BUDGET on the single largest suspect first (the reading
    # most likely to distort a family total), then the REST smallest-first:
    # small re-draws are cheap and the old largest-first order let a dozen
    # big suspects starve a legitimate small one out of its re-draw
    # (VERDICT r06 #2: cms_heavy_hitters triggered but was never re-drawn).
    # Suspects that still fall past the budget are RECORDED in
    # redraw_skipped so "adjudicated clean" and "never adjudicated" are
    # distinguishable in the artifact.
    if len(suspects) > 1:
        suspects = [suspects[0]] + sorted(suspects[1:])
    remeasured: dict[str, list[float]] = {}
    redraw_skipped: list[str] = []
    retry_deadline = time.perf_counter() + RETRY_BUDGET
    for dt, name in suspects:
        if time.perf_counter() + dt > retry_deadline:
            redraw_skipped.append(name)  # can't afford; raw reading kept
            continue
        try:
            again = round(_run_once(spark, name), 4)
        except Exception:
            redraw_skipped.append(name)
            continue
        remeasured[name] = [dt, again]
        full[name] = min(dt, again)
    families: dict[str, dict] = {}
    for name, dt in full.items():
        if dt < 0:
            continue
        f = families.setdefault(family(name), {"total": 0.0, "n": 0, "max": 0.0, "max_query": ""})
        f["total"] = round(f["total"] + dt, 4)
        f["n"] += 1
        if dt > f["max"]:
            f["max"], f["max_query"] = dt, name

    # Two lines, detail FIRST: the driver's tail capture parses the LAST
    # stdout line, and the full-registry detail (~200 timings) once grew past
    # its window and truncated the round-2 headline (BENCH_r02 parsed: null).
    # The last line is the compact headline JSON only (~1.5 KB, always whole).
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # END-of-pass calibration (VERDICT r08 #1): the start gate can't see
    # load that arrives mid-pass. Re-running the pinned calibration set
    # after every measured query lets the artifact testify about the WHOLE
    # window, and start/end disagreement stamps it contaminated.
    cal_end_info, cal_scale_end = _run_calibration()
    # thermal proxy sample point 3/3
    mhz_end = _cpu_mhz()
    q1_start = cal_info["queries"].get(MIDPASS_PROBE_QUERY)
    for p in midpass_probes:
        # >1 = faster than the start calibration (warmth), <0.8 = drift flag
        p["vs_start"] = round(q1_start / p["sec"], 3) if q1_start else None
    midpass_bad = midpass_contamination(
        q1_start, [p["sec"] for p in midpass_probes]
    )
    thermal_bad = thermal_verdict(
        mhz_start, mhz_end, [p.get("mhz") for p in midpass_probes]
    )
    contaminated = (
        contamination_verdict(cal_scale, cal_scale_end)
        or midpass_bad
        or thermal_bad
    )
    if contaminated:
        print(
            "bench: CONTAMINATED capture — calibration scales "
            f"start={cal_scale} end={cal_scale_end} outside "
            f"band {CAL_SCALE_BAND} or drift > {CAL_DRIFT_FRAC:.0%}, "
            f"or a mid-pass probe dipped (midpass={midpass_bad}, "
            f"probes={[p['sec'] for p in midpass_probes]}), "
            f"or sustained clocks dropped (thermal={thermal_bad}, "
            f"mhz start={mhz_start} end={mhz_end}); "
            "raw timings untrustworthy, read normalized only",
            file=sys.stderr,
        )
    load_end = os.getloadavg()
    sess_info = _session_desc(spark)
    load_info = {
        "ncpus": ncpus,
        "loadavg_start": [round(v, 2) for v in load_start],
        "loadavg_end": [round(v, 2) for v in load_end],
        "idle_at_start": idle_ok,
        "idle_gate_window": "max(1m,5m)",
        "max_load_per_cpu": IDLE_LOAD_PER_CPU,
    }
    detail = {
        "metric": "full_registry_detail",
        "session": sess_info,
        "families": families,
        "full": full,
        "full_total": round(sum(v for v in full.values() if v > 0), 4),
        "n_full": len(full),
        "not_benched": not_benched,
        "remeasured": remeasured,
        "redraw_skipped": redraw_skipped,
        "sf": sf_val,
        "calibration": cal_info,
        "calibration_end": cal_end_info,
        "midpass_probes": midpass_probes,
        "midpass_probe_query": MIDPASS_PROBE_QUERY,
        "midpass_probe_every": MIDPASS_PROBE_EVERY,
        "midpass_contaminated": midpass_bad,
        "pass_order": pass_order,
        "cpu_mhz_start": mhz_start,
        "cpu_mhz_end": mhz_end,
        "thermal_drop_frac": THERMAL_DROP_FRAC,
        "thermal_contaminated": thermal_bad,
        "contaminated": contaminated,
        "memoized_plan_warm": memo_warm,
        "headline_draws": headline_draws,
        "load": load_info,
        "duration_sec": round(time.perf_counter() - _T_START, 1),
    }
    if cal_scale is not None:
        # calibration-normalized view of the full pass: what the same run
        # would have read on the reference idle host
        detail["full_normalized"] = {
            n: round(v * cal_scale, 4) for n, v in full.items() if v > 0
        }
    print(json.dumps({k: v for k, v in detail.items() if k != "full_normalized"}))
    # ALSO persist the detail to a committed per-round file: the driver's
    # 2,000-char stdout tail can't hold ~200 per-query timings, so without
    # this the full-registry numbers are lost to history and round-over-round
    # per-query regression diffs are impossible (VERDICT r03 #3). Round N
    # comes from $SPARK_GRAFT_ROUND when set (ADVICE r04: within-round
    # recaptures label themselves explicitly instead of stealing the next
    # round's slot); fallback = one past the highest recorded
    # BENCH_r{N}.json (the driver writes that artifact AFTER bench runs, so
    # during round N only rounds < N exist) — warning when it replaces a
    # file some earlier run already wrote.
    here = os.path.dirname(os.path.abspath(__file__))
    env_round = os.environ.get("SPARK_GRAFT_ROUND")
    if env_round:
        rnd = int(env_round)
    else:
        rounds = [
            int(m.group(1))
            for f in os.listdir(here)
            if (m := re.match(r"BENCH_r(\d+)\.json$", f))
        ]
        rnd = max(rounds, default=0) + 1
    out = os.path.join(here, f"BENCH_FULL_r{rnd:02d}.json")
    # Best-of-N same-day capture (VERDICT r09 #5): a single full pass is one
    # draw against ±15% autocorrelated host drift, and the r9 committed
    # artifact was a hot-host draw reading 36% over the same-tree morning
    # passes. When a prior capture for the SAME round, tree and sf exists,
    # keep the min-total contaminated:false draw as the canonical artifact
    # body and record EVERY pass's total in same_day_pass_totals so the
    # artifact is self-adjudicating. A prior from a different commit
    # measured different code and is replaced, not merged.
    tree = _code_tree_id(here)
    detail["tree"] = tree
    # v2: BENCH_PROTOCOL folded into the hash (ADVICE r10) — a bumped
    # measurement protocol starts a fresh best-of-N series
    detail["tree_scheme"] = "code-hash-v2"
    detail["bench_protocol"] = BENCH_PROTOCOL
    detail["captured_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    this_pass = {
        "full_total": detail["full_total"],
        "contaminated": contaminated,
        "captured_at": detail["captured_at"],
        "tree": tree,
    }
    prior = None
    if os.path.exists(out):
        try:
            with open(out) as fh:
                prior = json.load(fh)
        except Exception:
            prior = None
    if prior is not None and (
        prior.get("tree") is None
        or prior.get("tree") != tree
        or prior.get("sf") != detail["sf"]
    ):
        print(
            f"bench: replacing {os.path.basename(out)} (prior capture is "
            "from a different tree/sf — not merged)",
            file=sys.stderr,
        )
        prior = None
    chosen = choose_full_artifact(prior, detail, this_pass)
    keep_prior = chosen is prior
    if keep_prior:
        # say WHY the prior stays canonical (ADVICE r10): keep_prior also
        # fires for a contaminated or less-complete pass, where "beats"
        # would claim a LARGER prior total beat a smaller new one
        if contaminated:
            why = "this pass is stamped contaminated"
        elif len(_measured_names(prior)) > len(_measured_names(detail)):
            why = (
                f"this pass measured fewer queries "
                f"({len(_measured_names(detail))} vs prior's "
                f"{len(_measured_names(prior))} — totals incomparable)"
            )
        else:
            why = (
                f"prior total {prior.get('full_total')} beats this "
                f"pass's {detail['full_total']}"
            )
        print(
            f"bench: keeping prior {os.path.basename(out)} body ({why}); "
            "this pass recorded in same_day_pass_totals",
            file=sys.stderr,
        )
    with open(out, "w") as fh:
        json.dump(chosen, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "n_queries": len(timings),
                "full_total": round(sum(v for v in full.values() if v > 0), 4),
                "n_full": len(full),
                "calibration": cal_info,
                "calibration_end": cal_end_info,
                "contaminated": contaminated,
                "memoized_plan_warm": memo_warm,
                "session": sess_info,
                "load": load_info,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
