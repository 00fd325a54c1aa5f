"""Pins for bench.py's storm-proofing machinery: the per-query quiet gate,
the retake loop, the committed-quiet-reference yardstick, the headline
registry and the external-load meter. These are pure-Python (no Spark
session) — the timed loop itself is exercised by running bench.py."""

import json

import bench


class TestQuietReference:
    def test_reference_loads_for_matching_sf(self):
        ref = bench._load_quiet_reference("0.1")
        # the committed r11 quiet record: 59 medians, all positive floats
        assert len(ref) >= 59
        assert all(isinstance(v, float) and v > 0 for v in ref.values())
        assert "x3_minhash_lsh" in ref

    def test_reference_empty_on_sf_mismatch(self):
        # a yardstick from another scale factor would mislabel every scan-
        # bound query as regressed — it must simply not apply
        assert bench._load_quiet_reference("0.001") == {}

    def test_reference_file_tracks_its_sf(self):
        with open(bench._repo_root() + "/BENCH_QUIET_REFERENCE.json") as f:
            ref = json.load(f)
        assert str(ref["sf"]) == "0.1"
        assert set(ref) >= {"sf", "queries", "source"}

    def test_retake_threshold_arithmetic(self):
        # the retake trigger is med > 1.5*ref + 0.25: the floor keeps
        # sub-second queries from flapping on scheduler jitter while a
        # genuine 2x regression on a 2 s query always trips
        ref = 0.3
        assert not (0.69 > 1.5 * ref + 0.25)  # 2.3x on a 0.3 s query: jitter
        assert 4.0 > 1.5 * 2.0 + 0.25  # 2x on a 2 s query: trips


class TestRetakeLoop:
    """Pins for retake_until_quiet (VERDICT r12 #5): a retake that still
    measures above-threshold external cores must not publish as a clean
    retaken median — the r12 x43 entry did, and cost an adjudication."""

    def test_loud_retakes_never_publish_as_quiet(self):
        # the x43 r12 shape: every quiet WAIT "succeeds" but the meter
        # reads 2.42 external cores over each retake's own window
        meds = iter([2.0, 1.9, 1.8])
        attempts, quiet, best, budget, waited = bench.retake_until_quiet(
            run_median=lambda: next(meds),
            wait_quiet=lambda b: (10.0, True),
            external_cores=lambda: 2.42,
            budget_s=900.0,
            threshold=2.0,
        )
        assert not quiet, "a loud retake must land retake_not_quiet"
        assert len(attempts) == 3 and best == 1.8
        assert waited == 30.0 and budget == 870.0
        assert all(a["external_cores"] == 2.42 for a in attempts)

    def test_quiet_attempt_publishes_that_measurement(self):
        # attempt 1 loud (ext 3.0), attempt 2 quiet (ext 0.1): the loop
        # stops at the quiet one, and the caller publishes the LAST
        # attempt's median — the quiet measurement, not the loud min
        meds = iter([0.5, 0.8])
        exts = iter([3.0, 0.1])
        attempts, quiet, best, budget, waited = bench.retake_until_quiet(
            run_median=lambda: next(meds),
            wait_quiet=lambda b: (10.0, True),
            external_cores=lambda: next(exts),
            budget_s=900.0,
            threshold=2.0,
        )
        assert quiet and len(attempts) == 2
        assert attempts[-1]["median"] == 0.8  # publish this, not min=0.5

    def test_budget_exhausted_while_waiting(self):
        attempts, quiet, best, budget, waited = bench.retake_until_quiet(
            run_median=lambda: 1.0,
            wait_quiet=lambda b: (b, False),
            external_cores=lambda: 5.0,
            budget_s=100.0,
            threshold=2.0,
        )
        assert not quiet and attempts == [] and best is None
        assert budget == 0.0 and waited == 100.0


class TestHeadlineRegistry:
    def test_headline_names_resolve(self):
        import __spark_entry__ as e

        known = set(e.queries()) | set(e.bench_only_queries())
        missing = [n for n in bench.HEADLINE if n not in known]
        assert not missing, f"HEADLINE entries without a query fn: {missing}"

    def test_reference_covers_headline(self):
        # every headline query should have a committed-quiet yardstick once
        # a quiet record lands; allow new-this-round entries to lag by one
        # round but not silently forever (cap the uncovered set)
        ref = bench._load_quiet_reference("0.1")
        uncovered = [n for n in bench.HEADLINE if n not in ref]
        assert len(uncovered) <= 5, (
            f"too many headline queries without a quiet-reference entry "
            f"(update BENCH_QUIET_REFERENCE.json from the next committed "
            f"quiet record): {uncovered}"
        )


class TestExternalLoadMeter:
    def test_self_load_is_excluded(self):
        # the property the meter exists for: CPU burned by THIS process
        # tree (python + descendants, i.e. the Spark JVM in a real run)
        # must not register as external — the first storm-proofed bench
        # run gated on raw loadavg and fired on its own 32-thread queries
        import multiprocessing as mp
        import time

        meter = bench.ExternalLoadMeter()
        time.sleep(1.0)
        idle = meter.external_cores()

        def spin(seconds):
            end = time.monotonic() + seconds
            while time.monotonic() < end:
                pass

        procs = [mp.Process(target=spin, args=(2.0,)) for _ in range(4)]
        for p in procs:
            p.start()
        time.sleep(2.0)
        busy_self = meter.external_cores()
        steal = meter.last_steal_cores
        for p in procs:
            p.join()
        # 4 in-tree cores spinning must look (almost) idle externally;
        # allow slack for unrelated system daemons. Hypervisor steal is
        # subtracted: on an oversubscribed host our own demand induces
        # steal (observed 3+ cores during this very spin window), which
        # IS external interference by design but is not a tree-accounting
        # failure — the property under test here (ADVICE r13-style
        # robustness; external_cores itself deliberately keeps steal).
        assert busy_self - steal < 1.5, (idle, busy_self, steal)

    def test_meter_monotonic_window_semantics(self):
        import time

        meter = bench.ExternalLoadMeter()
        time.sleep(0.2)
        a = meter.external_cores()
        b = meter.external_cores()  # near-zero window, must not blow up
        assert a >= 0.0 and b >= 0.0

    def test_daemonized_descendant_stays_counted(self):
        # ADVICE r12: a descendant that daemonizes (its shell parent exits,
        # reparenting it to PID 1) mid-run used to vanish from the tree sum
        # while /proc/stat kept its jiffies — the delta read as an
        # external-CPU spike and burned retake budget. The meter now
        # remembers tree members and keeps counting them after reparenting.
        import subprocess
        import time

        meter = bench.ExternalLoadMeter()
        # baseline window with NO spinners: genuine external daemons or CI
        # contention shift this and the with-spinners reading together, so
        # the assertion below is on the DELTA, not an absolute bound that
        # flakes on a busy host (ADVICE r13)
        time.sleep(1.0)
        baseline = meter.external_cores()
        # a shell that backgrounds 3 spinners and exits after 0.7 s: the
        # spinners are in-tree while the shell lives, then reparent to 1
        p = subprocess.Popen(
            [
                "/bin/sh",
                "-c",
                "for i in 1 2 3; do timeout 2.5 python3 -c "
                "'while True: pass' & done; sleep 0.7",
            ]
        )
        time.sleep(0.4)
        meter.external_cores()  # window while the chain is still in-tree
        p.wait()
        time.sleep(1.5)  # spinners burn ~3 cores, now reparented to PID 1
        ext = meter.external_cores()
        steal = meter.last_steal_cores
        # without re-adoption this reads ~baseline + 3.0; steal subtracted
        # for the same reason as test_self_load_is_excluded — the in-tree
        # spinners induce hypervisor steal on an oversubscribed host,
        # which is real external interference but not the re-adoption
        # failure this test pins
        assert ext - steal < baseline + 1.0, (baseline, ext, steal)

    def test_recycled_pid_with_changed_starttime_is_dropped(self):
        # ADVICE r13: jiffies>=last alone was spoofable — a member first
        # seen near 0 jiffies would re-adopt almost any foreign successor
        # on the recycled pid. The kernel start time (stat field 22) pins
        # process identity; pretend PID 1 was once a tree member with a
        # bogus start time and assert the meter refuses to re-adopt it.
        import os

        meter = bench.ExternalLoadMeter()
        meter._tree_jiffies()
        meter._seen[1] = (0, os.getpid(), -1)
        meter._tree_jiffies()
        assert 1 not in meter._seen

    def test_vanished_child_of_tracked_parent_is_not_banked(self):
        # ADVICE r13: a vanished member's own utime+stime was banked into
        # _lost even though its in-tree parent's cutime already carries
        # the reaped time — double-counting that biases external_cores
        # LOW, the unsafe direction for quiet_host publishing. Only a
        # vanished member whose remembered parent is neither in-tree nor
        # itself tracked may bank.
        import os

        meter = bench.ExternalLoadMeter()
        meter._tree_jiffies()
        lost0 = meter._lost
        meter._seen[99_999_999] = (1000, os.getpid(), 42)  # parent in-tree
        meter._seen[99_999_998] = (500, 99_999_997, 42)  # true orphan
        meter._tree_jiffies()
        assert meter._lost == lost0 + 500
        assert 99_999_999 not in meter._seen
        assert 99_999_998 not in meter._seen

    def test_proc_stat_busy_excludes_guest_fields(self):
        # guest/guest_nice (fields 8, 9) are already included in user/nice;
        # summing them double-counts VM time as external CPU (ADVICE r12)
        meter = bench.ExternalLoadMeter()
        busy, _, _, _ = meter._read()
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        assert busy <= sum(fields[:8]) - fields[3] - fields[4]
