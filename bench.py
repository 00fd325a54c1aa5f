"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop sink (computes every row/column
without driver collection), so timings measure the engine, not toPandas.

Each query runs $SPARK_GRAFT_BENCH_ITERS times (default 3); "queries"
carries the per-query MEDIAN and "queries_cold" the first (cold) run —
single-iteration timings at 0.3-4 s granularity cannot distinguish a real
30% regression from JVM/GC contention (observed round-over-round swings of
+92% on untouched queries), medians can.

Storm-proofing (a record once published a 132 s total whose x3 "warm
median" was 7x its own cold — a mid-run host storm):
the quiet gate is re-checked PER QUERY, every query stamps the EXTERNAL
CPU (other processes' busy cores — raw loadavg is self-contaminated once
the 32-thread timed loop is running) it ran under, and a query whose
median lands >1.5x its entry in the last COMMITTED quiet record
(BENCH_QUIET_REFERENCE.json) — or that ran with external CPU above the
gate — is automatically RETAKEN after re-waiting for external quiet.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from hbsir_old_spark import get_spark  # noqa: E402

#: representative cross-section: scan-agg, joins (broadcast/shuffle/range),
#: windows, reshape, streaming-batch, dedup (exact + LSH), text, similarity
HEADLINE = [
    "a1_groupby_sum",
    "j1_classification_join",
    "j6_fact_join",
    "j3_weighted_average",
    "w1_weighted_ecdf",
    "w2_decile",
    "p18_melt",
    "p13_cpi_deflation",
    "s1_events_tumbling",
    "s2_events_sessions",
    "x1_dedup_exact",
    "x3_minhash_lsh",
    "x5_text_stats",
    "x8_cosine_topk",
    "x11_bpe_token_count",
    "a6_distinct_agg",
    "g1_dsl_pipeline",
    "x16_hash_split",
    "x17_group_quota",
    "x18_token_freq",
    # cheap enough for the timed loop (s4/x19 are gate-
    # only — partitioned-sink writes and pair-generation dominate their
    # wall time and belong to correctness, not the throughput suite)
    "w4b_weighted_approx_decile",
    "x20_tfidf_top_terms",
    "x21_asof_attribution",
    "x22_incremental_dedup",
    # the reference's defining multi-year workload — per-era
    # plans through the year-versioned corpus, U1-unioned (~3x l3's work,
    # one era-disjoint slice each)
    "l14_multi_year_food",
    # the FULL 39-year span of the same workload — era-batched
    # plan compile (~5 groups; driver-side analysis dominates, constant in
    # data size) + one exec over every survey era. l16/w3 stay gate-only:
    # their wall time is fixture parquet-cache writes, not throughput.
    "l15_full_span_food",
    # the same full-span workload served from the Year-partitioned
    # parquet layout — one pruned scan per metadata era (the 100-TB read
    # path l15 only plan-pins). Its first run materializes the layout once
    # per process (queries_cold shows that one-time write; the median is
    # the read path), and the reference's published poverty-rate example
    # end-to-end (classification + pivot + weights + attribute decodes)
    "l15b_partitioned_span",
    "g6_poverty_rate",
    # the real-metadata-corpus pipeline, the cube
    # lattice, and the two single-shuffle window primitives
    "l3_real_corpus_food",
    "a10_cube",
    "o2_rolling_window",
    "s5_batch_sessions",
    "s6_interval_join",
    "x25_repetition_filter",
    "x28_sequence_pack",
    "x29_temperature_sample",
    "x30_lm_perplexity",
    # DSIR importance selection and the cross-corpus
    # duplicated-passage statistic (content-defined window sampling)
    "x31_dsir_select",
    "x32_dup_windows",
    # hashed-feature linear quality classifier (map-only fold —
    # the per-token md5+conv work IS its wall time, a pure expression-
    # throughput probe)
    "x33_quality_classifier",
    # the end-to-end curation funnel (lang/quality map-only
    # inline, one dedup window Exchange, one shingle semi-join — after
    # the exploded-shingle rewrite took it 10.1 s -> 2.2 s warm) and the
    # exact histogram-quantile perplexity prune over the x30 LM scores
    "x34_curation_pipeline",
    "x35_perplexity_prune",
    # the reference's published income-bracket results workload
    # (binning + weights + three weighted tables in one frame) and the
    # map-only interval-binning primitive it rides on
    "p24_interval_binning",
    "g7_income_brackets",
    # cross-corpus line-level boilerplate removal (explode +
    # two-stage partial-agg doc frequency + anti-join + reassembly)
    "x36_boilerplate_removal",
    # context-window chunking (map-only split/slice explode)
    "x37_context_chunking",
    # the FULL production curation funnel — x34's four stages
    # plus the near-dup stage on its 100-TB path (banded MinHash
    # candidates -> exact-Jaccard verify -> pointer-jumping connected
    # components -> min-id canonical). The exact-pair twin x38 stays
    # gate-only like x19/x23 (all-pairs n-gram generation is its wall
    # time); the LSH composition is the throughput-relevant shape.
    "x38b_curation_fuzzy_lsh",
    # the Gopher rule filter (seven document-level heuristics in
    # one map-only expression pass — like x33, a pure expression-
    # throughput probe over the shared tokenizer)
    "x39_gopher_rules",
    # the C4 line/document filter (line retention + reassembly +
    # page blocks — map-only array/string expressions)
    "x40_c4_filter",
    # exact-substring dedup removal (window explode -> distinct-
    # doc ownership -> coverage anti-join -> ordered reassembly; the
    # shuffle-heavy counterpart of x32's map-side statistic)
    "x41_substring_dedup",
    # deterministic global training-order shuffle (hash-prefix
    # bucketed enumeration — one count collect + partitioned window; the
    # global-sort-free ordering probe)
    "x43_global_shuffle",
    # the end-to-end pipeline capstone (curation funnel ->
    # temperature mixture -> global order -> sequence packing in ONE
    # lazy plan — the integration throughput probe)
    "x44_pipeline_e2e",
    # batch events analytics — the k-pass iterative
    # min-agg funnel (per-step filtered scan + user-keyed partial agg) and
    # weekly retention cohorts (two partial aggs + one user-keyed join)
    "s8_funnel",
    "s9_retention",
    # session path trigrams: sessionize window + gap-bounded sequence agg
    # + map-only n-gram explode (s10 stays gate-only like s7: its wall
    # time is streaming-query lifecycle, not engine throughput)
    "s11_path_trigrams",
    # fixed-vocab BPE encode: word explode + vocab join + ordered
    # reassembly (x45's learned training stays gate-only like x26's
    # Lloyd rounds: its wall time is per-round job latency, not engine
    # throughput)
    "x45b_bpe_encode",
    # TPC-H Q5 shape: the deepest join tree in the registry (6 tables,
    # broadcast cascade + one fact-fact shuffle join) — the join-
    # reordering throughput probe
    "j10_local_supplier_revenue",
    # the ingest-loop shapes a 100-TB user actually runs:
    # x22's incremental dedup through the broadcast
    # Bloom pre-filter (misses never reach the verify join; the filter
    # build is part of the measured path, as in a first-batch ingest),
    # and the bench-only LSH corpus-refresh probe whose near stage
    # consumes the store's PERSISTED band-hash parquet (only the batch
    # is signed; the store side contributes zero Exchange — the artifact
    # write is setup, materialized before the timed loop like l15b's
    # layout). x46 itself (exact mode) and the new x44b fuzzy capstone
    # stay gate-only by the x2/x19/x38 precedent: their wall time is
    # exact all-pairs gram-join generation (measured 5.8 s / 22.3 s at
    # sf0.1 — correctness shapes, not throughput shapes; their scale
    # paths ARE the x38b and x46b headline rows)
    "x22b_bloom_dedup",
    "x46b_refresh_lsh_store",
    # x23_best_rep_dedup stays gate-only like x19: exact all-pairs n-gram
    # generation dominates its wall time (the scale path is x3's MinHash),
    # so it belongs to correctness, not the throughput suite. x26's k-means
    # is likewise gate-only: its wall time is Lloyd-iteration job latency
    # (driver round trips), not engine throughput — and x27's is the
    # interpreted pairwise-cosine verify over in-cluster candidates.
    # x47_audio_decode stays gate-only — its wall time is the
    # Python WAV build+decode inside mapInPandas (the documented codec
    # boundary, not engine throughput); j8b_geometry_analytics likewise
    # (25 dim rows — gate shape, nothing to measure).
    # the resize-path throughput envelope — the
    # x48/x48b/x49/x50 gates prove exactness on doc_id<100 thumbnails and
    # stay gate-only per the codec-boundary precedent above; this probe
    # runs decode->bilinear-resize->aggregate over EVERY document at the
    # bench SF (~5k real ~30x30 RGB PNGs at sf0.1) so the record carries
    # the Arrow-batch codec throughput number before anyone trusts the
    # path at 100 TB
    "x48x_resize_scale",
    "x51x_image_near_dedup_scale",
]


def wait_for_quiet_host(
    threshold: float, timeout_s: float, poll_s: float = 15.0
) -> tuple[float, bool]:
    """Loop until the 1-min loadavg drops below ``threshold`` (or the wait
    budget runs out). Timings recorded while unrelated work holds the host
    at loadavg 3-8 are unusable for regression calls (observed 3-10x
    swings); gating makes a recorded number mean something. Returns
    (seconds_waited, host_was_quiet)."""
    def quiet() -> bool:
        one, five, _ = os.getloadavg()
        # the 5-min average catches a just-finished heavy phase (test
        # suite, prior bench) whose cache/JIT churn still pollutes
        # timings even after the 1-min average has decayed. Round-7
        # lesson: a record taken at five-min loadavg 3.76 (under the old
        # 2x gate) showed uniform ~1.5-1.9x inflation on untouched
        # map-only queries — the 5-min bar must be as strict as the
        # 1-min one.
        return one <= threshold and five <= threshold

    waited = 0.0
    while not quiet() and waited < timeout_s:
        time.sleep(poll_s)
        waited += poll_s
    return waited, quiet()


class ExternalLoadMeter:
    """External-CPU meter for MID-RUN storm detection: raw loadavg is
    useless once the timed loop is running (the bench's own 32-thread
    queries push it to 5-10, so a loadavg-based per-query gate fires on
    ITSELF and burns the retake budget sleeping — observed on this
    harness's first storm-proofed run). Instead, measure the busy jiffies
    of everything OUTSIDE our own process tree over each sampling window:
    ``external_cores()`` returns the average number of cores other
    processes kept busy since the previous call. /proc/stat gives total
    busy; /proc/<pid>/stat (utime+stime over the descendant tree of this
    process, which includes the Spark JVM) gives ours."""

    def __init__(self) -> None:
        self._hz = os.sysconf("SC_CLK_TCK")
        # pid -> (jiffies, ppid, starttime) for every process counted in
        # the tree: lets a descendant that daemonizes (reparented to PID 1)
        # keep counting, preserves the time of one that vanishes entirely,
        # and pins the kernel start time so a recycled PID can never be
        # mistaken for the remembered member (ADVICE r13)
        self._seen: dict[int, tuple[int, int, int]] = {}
        # accumulated jiffies of vanished tree members: /proc/stat keeps
        # their time forever, so the tree sum must too or the next window
        # reads the difference as an external-CPU spike (ADVICE r12)
        self._lost = 0
        # steal cores observed in the most recent external_cores() window
        # (see _read): external-but-self-induced on oversubscribed hosts
        self.last_steal_cores = 0.0
        self._last = self._read()

    def _tree_jiffies(self) -> int:
        me = os.getpid()
        ppid_map: dict[int, int] = {}
        jiffies: dict[int, int] = {}
        start: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue  # raced a process exit
            pid = int(d)
            ppid_map[pid] = int(rest[1])
            # utime+stime PLUS reaped-children time (cutime+cstime):
            # without the latter, a PySpark python worker that exits
            # mid-window takes its jiffies out of the tree sum while
            # /proc/stat keeps them — the delta reads as EXTERNAL load
            # on an idle host and trips a spurious retake (review-pass
            # finding). While a child lives its time is counted via its
            # own entry; on reaping it moves into the parent's cutime.
            # The vanished-member banking below therefore SKIPS pids
            # whose parent is still in-tree — banking them as well would
            # count the reaped time twice, biasing external_cores LOW,
            # the unsafe direction for quiet_host publishing (ADVICE
            # r13).
            jiffies[pid] = (
                int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
            )
            start[pid] = int(rest[19])  # starttime, /proc stat field 22
        tree = {me}
        changed = True
        while changed:
            changed = False
            for pid, ppid in ppid_map.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    changed = True
        # re-adopt remembered members no longer reachable by parentage (a
        # descendant that daemonized was reparented to PID 1 mid-window);
        # a changed kernel start time or a jiffies count BELOW the
        # last-seen value means the PID was recycled by a foreign process
        # — drop it instead of counting the stranger's CPU as ours
        # (jiffies alone was spoofable: a member first seen near 0
        # jiffies would re-adopt almost any successor)
        for pid, (last, _ppid, st) in list(self._seen.items()):
            if pid in jiffies and pid not in tree:
                if start.get(pid) == st and jiffies[pid] >= last:
                    tree.add(pid)
                else:
                    del self._seen[pid]
        # members gone from /proc entirely: bank their last-known jiffies
        # — UNLESS the last-known parent is still tracked, in which case
        # the reaped time arrives via that parent's cutime and banking
        # would double-count it (see the jiffies-read comment above). A
        # parent that died un-waited leaves the child's time unbanked and
        # uncounted — that only OVER-states external load (worst case a
        # spurious retake), never a loud host labeled quiet.
        remembered = set(self._seen)  # pre-loop snapshot: a parent popped
        # earlier in this same loop must still suppress its child's bank
        for pid in list(self._seen):
            if pid not in jiffies:
                _last, ppid, _st = self._seen.pop(pid)
                if ppid not in tree and ppid not in remembered:
                    self._lost += _last
        self._seen.update(
            {
                p: (jiffies[p], ppid_map.get(p, 0), start[p])
                for p in tree
                if p in jiffies
            }
        )
        return sum(jiffies.get(p, 0) for p in tree) + self._lost

    def _read(self) -> tuple[int, int, int, float]:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        # user..steal only (fields 0-7) minus idle+iowait: the guest and
        # guest_nice fields (8, 9) are ALREADY included in user/nice, so
        # summing them double-counts VM time as external CPU (ADVICE r12)
        busy = sum(fields[:8]) - fields[3] - fields[4]
        # steal (field 7) tracked separately: on an oversubscribed VM host
        # the hypervisor steal grows WITH this tree's own CPU demand (our
        # vCPUs contend with neighbors exactly when we use them), so steal
        # is external-but-self-induced. It stays inside external_cores()
        # — stolen cycles corrupt timings just like a neighbor process, so
        # the storm gate must fire on them — but the breakout lets the
        # record (and the meter's own tests) separate "another process in
        # this VM" from "the host is oversubscribed right now".
        steal = fields[7] if len(fields) > 7 else 0
        return busy, steal, self._tree_jiffies(), time.monotonic()

    def external_cores(self) -> float:
        busy, steal, ours, now = self._read()
        b0, s0, o0, t0 = self._last
        self._last = (busy, steal, ours, now)
        dt = max(now - t0, 1e-6)
        self.last_steal_cores = max(0.0, steal - s0) / self._hz / dt
        return max(0.0, (busy - b0) - (ours - o0)) / self._hz / dt


def wait_for_external_quiet(
    meter: ExternalLoadMeter, threshold: float, timeout_s: float,
    poll_s: float = 15.0,
) -> tuple[float, bool]:
    """Mid-run analogue of :func:`wait_for_quiet_host`: sleep until other
    processes' CPU use drops below ``threshold`` cores per sampling
    window (or the budget runs out). Sleeping first makes each sample a
    clean window in which the bench itself was idle."""
    waited = 0.0
    while waited < timeout_s:
        time.sleep(poll_s)
        waited += poll_s
        if meter.external_cores() <= threshold:
            return waited, True
    return waited, False


def retake_until_quiet(
    run_median,
    wait_quiet,
    external_cores,
    budget_s: float,
    threshold: float,
    max_attempts: int = 3,
) -> tuple[list[dict], bool, float | None, float, float]:
    """The retake LOOP (r12 lesson: x43's single retake 'succeeded' the
    quiet wait but MEASURED at 2.42 external cores and published as a
    clean median anyway, leaving an unresolvable suspect). A retake only
    counts as quiet if the external meter stayed under ``threshold`` over
    the retake runs THEMSELVES; otherwise re-wait and try again, up to
    ``max_attempts`` or the wait budget. Returns ``(attempts,
    quiet_retake, best_median, budget_left, waited_total)`` — when
    ``quiet_retake`` the caller must publish the LAST attempt's median
    (the one measured quiet), not the min across loud attempts."""
    attempts: list[dict] = []
    quiet = False
    best: float | None = None
    waited_total = 0.0
    while budget_s > 0 and not quiet and len(attempts) < max_attempts:
        waited, q = wait_quiet(budget_s)
        budget_s -= waited
        waited_total += waited
        if not q:
            break  # budget exhausted while still loud
        m = run_median()
        ext = external_cores()
        attempts.append(
            {"median": round(m, 3), "external_cores": round(ext, 2)}
        )
        best = m if best is None else min(best, m)
        quiet = ext <= threshold
    return attempts, quiet, best, budget_s, waited_total


def _repo_root() -> str:
    return os.path.dirname(os.path.abspath(__file__))


def _load_quiet_reference(sf: str) -> dict[str, float]:
    """Medians from the last COMMITTED quiet-host record
    (BENCH_QUIET_REFERENCE.json) — the per-query retake yardstick. Only
    applicable at the same scale factor; absent/mismatched -> no yardstick
    (retakes then trigger on the external-CPU gate breach alone)."""
    try:
        with open(os.path.join(_repo_root(), "BENCH_QUIET_REFERENCE.json")) as f:
            ref = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return {}
    if str(ref.get("sf")) != str(sf):
        return {}
    return {k: float(v) for k, v in ref.get("queries", {}).items()}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    quiet_threshold = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0"))
    quiet_timeout = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_WAIT", "600"))
    quiet_wait_s, quiet_host = wait_for_quiet_host(quiet_threshold, quiet_timeout)
    spark = get_spark("hbsir-old-spark-bench")
    queries = {**entry_mod.queries(), **entry_mod.bench_only_queries()}

    # JVM/codegen warmup: one pass of EVERY headline query at the smallest
    # SF, so the timed runs measure engine throughput, not one-time
    # process JIT. Measured (round 8): plan codegen cost is per-shape,
    # data-size-independent, and transfers fully across SF — e.g. w4b's
    # first run at sf0.1 drops 6.5 s -> 2.6 s (its ~2.4 s steady state)
    # after a single sf0.001 pass of the same query, while warming
    # *other* aggregate shapes transfers nothing. Without this,
    # "queries_cold" conflates a fixed ~2 s-per-novel-plan JIT tax
    # (irrelevant on a long-lived cluster) with the first-at-SF scan cost
    # it is meant to capture.
    warmup_t0 = time.perf_counter()
    for name in HEADLINE:
        queries[name](spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()
    # l15b's one-time partitioned-layout write is SETUP, not the pruned
    # read path the query exists to measure — materialize the TARGET-SF
    # layout here so both its cold and its median time era scans, not a
    # parquet write (round-8 record lesson: the 9.27 s "median" was the
    # layout write; the read path is ~3.6 s warm)
    entry_mod._l15b_root(spark, sf_dir)
    # same rationale for l15's synthetic-adapter base cache: its one-time
    # materialization is setup, not the era-plan execution the query
    # measures — and an un-warmed first run would trip the
    # cold_storm_suspects annotation below with a false host-stall label
    entry_mod._l15_warm_base(spark, sf_dir)
    # x46b's persisted band-hash table is likewise an ingest-time
    # artifact: materialize it at the target SF so the timed runs
    # measure the refresh read path, not the one-time parquet write
    entry_mod._x46b_bands_root(spark, sf_dir)
    warmup_s = round(time.perf_counter() - warmup_t0, 1)
    # the warmup itself drives every core for minutes — re-gate before
    # timing, and let the POST-warmup check (the state the timed loop
    # actually starts in) decide quiet_host
    quiet_wait2, quiet_host = wait_for_quiet_host(quiet_threshold, quiet_timeout)
    quiet_wait_s += quiet_wait2

    iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3")))
    # total extra seconds the per-query gate/retake machinery may spend
    # WAITING for quiet mid-suite (on top of the two full pre-loop gates)
    retake_budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_RETAKE_WAIT", "900"))
    reference = _load_quiet_reference(sf)
    load_before = os.getloadavg()
    medians: dict[str, float] = {}
    cold: dict[str, float] = {}
    reruns: list[str] = []
    external_cores_per_query: dict[str, float] = {}
    steal_cores_per_query: dict[str, float] = {}
    retakes: dict[str, dict] = {}
    suspect_vs_reference: list[str] = []
    retake_not_quiet: list[str] = []

    def timed(fn, n: int) -> list[float]:
        out = []
        for _ in range(n):
            start = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            out.append(time.perf_counter() - start)
        return out

    def median_with_spread_guard(fn, name: str, first: bool) -> list[float]:
        runs = timed(fn, iters)
        # noise guard: this host swings 3-10x under invisible contention;
        # if the warm runs spread >1.5x, take two more samples before
        # trusting the median
        warm = runs[1:] or runs
        if iters > 1 and max(warm) > 1.5 * min(warm):
            if first:
                reruns.append(name)
            runs += timed(fn, 2)
        return runs

    # the bench's own 32-thread queries dominate raw loadavg mid-run, so
    # per-query storm detection measures EXTERNAL cpu only (everything
    # outside this process tree) — see ExternalLoadMeter
    meter = ExternalLoadMeter()
    for name in HEADLINE:
        fn = queries[name]
        # per-query PRE-gate (r11 lesson: the loadavg-0.8 start gate let a
        # mid-run storm publish x3 at 7x its own cold): a storm that
        # arrives mid-suite pauses the suite instead of polluting it.
        # external_cores() here covers the window since the last sample
        # (the previous query), so a storm overlapping it is caught before
        # the next query is timed
        if meter.external_cores() > quiet_threshold and retake_budget_s > 0:
            waited, q = wait_for_external_quiet(
                meter, quiet_threshold, min(retake_budget_s, quiet_timeout)
            )
            retake_budget_s -= waited
            quiet_wait_s += waited
            quiet_host = quiet_host and q
        runs = median_with_spread_guard(fn, name, first=True)
        med = statistics.median(runs)
        cold[name] = round(runs[0], 3)
        # this sample's window is exactly the query's runs
        ext_now = meter.external_cores()
        external_cores_per_query[name] = round(ext_now, 2)
        steal_cores_per_query[name] = round(meter.last_steal_cores, 2)
        # AUTO-RETAKE: a median >1.5x the last committed quiet record (+a
        # 0.25 s floor so sub-second queries don't flap on jitter), or
        # external CPU above the gate while this query ran, is
        # storm-suspect — re-wait for quiet and publish a FRESH median
        breach = ext_now > quiet_threshold
        above_ref = name in reference and med > 1.5 * reference[name] + 0.25
        if (breach or above_ref) and retake_budget_s > 0:
            attempts, quiet_retake, best2, retake_budget_s, waited = (
                retake_until_quiet(
                    run_median=lambda: statistics.median(
                        median_with_spread_guard(fn, name, first=False)
                    ),
                    wait_quiet=lambda budget: wait_for_external_quiet(
                        meter, quiet_threshold, min(budget, quiet_timeout)
                    ),
                    external_cores=meter.external_cores,
                    budget_s=retake_budget_s,
                    threshold=quiet_threshold,
                )
            )
            quiet_wait_s += waited
            retakes[name] = {
                "first": round(med, 3),
                "external_cores_at_first": round(ext_now, 2),
                "reason": "gate_breach" if breach else "above_reference",
                "attempts": attempts,
                "quiet_for_retake": quiet_retake,
            }
            if attempts:
                retakes[name]["retaken"] = attempts[-1]["median"]
                retakes[name]["external_cores_at_retake"] = attempts[-1][
                    "external_cores"
                ]
            if quiet_retake:
                # publish the measurement taken in the quiet window (not
                # the min across loud attempts)
                med = attempts[-1]["median"]
                external_cores_per_query[name] = attempts[-1]["external_cores"]
                # NOTE: cold[name] deliberately keeps the original first
                # run — with the median now quiet, a storm-contaminated
                # cold surfaces through cold_storm_suspects below (its
                # documented reading)
            else:
                # never got a quiet measurement window: publish the best
                # seen but stamp retake_not_quiet so the record separates
                # "re-measured high while quiet" (a real suspect) from
                # "never got a quiet window" (unresolved noise)
                retakes[name]["retake_not_quiet"] = True
                retake_not_quiet.append(name)
                quiet_host = False
                if best2 is not None:
                    med = min(med, best2)
        elif breach:
            # a gate breach with NO retake budget left must not publish
            # a quiet-labeled record — the exact mislabeling (r11's 132 s
            # driver record) this machinery exists to prevent
            quiet_host = False
        if (
            name in reference
            and med > 1.5 * reference[name] + 0.25
            and name not in retake_not_quiet
        ):
            # survived (or skipped) a quiet retake and still >1.5x the
            # committed record: a REAL regression candidate for the
            # two-record protocol, not host noise (a median that never got
            # a quiet window sits in retake_not_quiet instead)
            suspect_vs_reference.append(name)
        medians[name] = round(med, 3)
    load_after = os.getloadavg()

    # Storm annotation for the cold column (round-9 record lesson: x3's
    # 22.5 s "cold" was a flagged host stall, not a cold-start cost, but
    # nothing in the record said so). A true cold run cannot be re-taken
    # in-process — the page cache and JIT are warm after iteration 1 — so
    # the honest fix is to FLAG colds that are implausibly far above the
    # warm median: every plan here is JIT-warmed pre-loop, so a genuine
    # first-at-SF scan cost lands within ~1.5x of warm + a small scan
    # constant. Flagged colds should be read as contaminated-by-stall;
    # the medians (noise-guarded above) stay authoritative.
    cold_storm_suspects = sorted(
        n for n in HEADLINE if cold[n] > 1.5 * medians[n] + 0.5
    )

    total = round(sum(medians.values()), 3)
    # FIELD ORDER IS LOAD-BEARING for the printed line: the driver's
    # record keeps only a ~2000-char TAIL of stdout, so the warm medians
    # (the round-over-round comparison this file exists for) and the
    # summary fields go LAST, with the bulkier cold-run dict first where
    # truncation costs least. The COMPLETE record is also written to
    # BENCH.json at the repo root (round-8 record lesson: the first ~24
    # medians were simply absent from the driver's stored tail).
    record = {
        "queries_cold": cold,
        "bench_notes": {
            "loadavg_before": [round(x, 2) for x in load_before],
            "loadavg_after": [round(x, 2) for x in load_after],
            # external cores (other processes' CPU) stamped over each
            # query's own window — a mid-run storm is visible per-query,
            # not only start-vs-end, and the bench's own load is excluded
            "external_cores_per_query": external_cores_per_query,
            "steal_cores_per_query": steal_cores_per_query,
            # queries re-measured after a quiet re-wait because their
            # first median breached the gate or landed >1.5x the last
            # committed quiet record (BENCH_QUIET_REFERENCE.json)
            "retakes": retakes,
            # >1.5x the committed quiet record even after a quiet retake:
            # real regression candidates (two-record protocol), not noise
            "suspect_vs_reference": suspect_vs_reference,
            # queries whose retakes never landed in a quiet window:
            # UNRESOLVED (neither cleared nor a suspect) — re-measure on a
            # quiet host before reading anything into their medians
            "retake_not_quiet": retake_not_quiet,
            "reference_queries": len(reference),
            "noise_reruns": reruns,
            # colds implausibly above their own warm median (>1.5x +
            # 0.5 s): contaminated by a host stall, NOT a cold-start
            # cost — read the median instead
            "cold_storm_suspects": cold_storm_suspects,
            # quiet_host=False means the wait budget expired while
            # the host stayed loaded: treat the numbers as noisy,
            # not as a regression signal
            "quiet_host": quiet_host,
            "quiet_wait_s": round(quiet_wait_s, 1),
            "quiet_threshold": quiet_threshold,
            # protocol (round 8+): every headline shape is JIT-
            # warmed once at sf0.001 before timing (plus l15b's
            # target-SF layout), so queries_cold = first run AT THE
            # TARGET SF (scan + real data), not first-plan-compile
            "warmup": "full-headline-sf0.001+l15b-layout+l15-base-cache",
            "warmup_s": warmup_s,
        },
        "iters": iters,
        "queries": medians,
        "metric": "headline_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    line = json.dumps(record)
    with open(os.path.join(_repo_root(), "BENCH.json"), "w") as f:
        f.write(line + "\n")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
