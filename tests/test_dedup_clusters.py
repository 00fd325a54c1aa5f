"""Connected-components dup clustering: pairs -> transitive closure ->
one representative per cluster (the corpus-level dedup primitive; the
oracled x19 gate checks the same algorithm against DuckDB's recursive
CTE at sf0.01)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hbsir_old_spark.functions.dedup import (  # noqa: E402
    connected_components,
    keep_cluster_representatives,
)


def _components(spark, edges):
    e = spark.createDataFrame(edges, ["id_a", "id_b"])
    return {r["node"]: r["component"] for r in connected_components(e).collect()}


def test_chain_collapses_to_min(spark):
    # a path graph is the worst case for naive propagation (diameter = n);
    # pointer jumping must still converge inside max_iterations
    out = _components(spark, [(i, i + 1) for i in range(1, 12)])
    assert all(out[i] == 1 for i in range(1, 13))


def test_single_round_pins_specialized_first_step(spark):
    # r14 pins the round-1 specialization (identity labels => neighbor-min
    # degenerates to min(v) per u, no labels frame): with the iteration
    # budget capped at ONE round, the labels must be exactly one
    # min-label step + one pointer jump on the chain 1-2-3-4-5, computed
    # by hand: stepped = {1:1, 2:1, 3:2, 4:3, 5:4}, then
    # jump comp[u] <- least(comp[u], comp[comp[u]]) = {1:1, 2:1, 3:1,
    # 4:2, 5:3}. A specialization that diverged from the explicit-labels
    # round-1 semantics in ANY way would break these intermediates.
    e = spark.createDataFrame([(i, i + 1) for i in range(1, 5)], ["id_a", "id_b"])
    out = {
        r["node"]: r["component"]
        for r in connected_components(e, max_iterations=1).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 2, 5: 3}


def test_zero_iteration_budget_returns_identity(spark):
    # degenerate budget: every node its own component (the labels frame
    # the pre-specialization formulation initialized and returned)
    e = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    out = {
        r["node"]: r["component"]
        for r in connected_components(e, max_iterations=0).collect()
    }
    assert out == {1: 1, 2: 2, 3: 3}


def test_disjoint_clusters_keep_separate_labels(spark):
    out = _components(spark, [(1, 2), (2, 3), (20, 21), (30, 31), (31, 32), (30, 32)])
    assert {out[1], out[2], out[3]} == {1}
    assert {out[20], out[21]} == {20}
    assert {out[30], out[31], out[32]} == {30}


def test_edge_direction_is_irrelevant(spark):
    assert _components(spark, [(5, 2), (2, 9)]) == {2: 2, 5: 2, 9: 2}


def test_representatives_keep_min_and_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"])
    kept = sorted(
        r["doc_id"]
        for r in keep_cluster_representatives(docs, pairs).select("doc_id").collect()
    )
    # cluster {1,2,3} -> 1; cluster {5,6} -> 5; 4 and 7 untouched
    assert kept == [1, 4, 5, 7]


def test_dedup_against_drops_seen_and_in_batch_dups(spark):
    from hbsir_old_spark.functions.dedup import dedup_against

    seen = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], ["doc_id", "text"]
    )
    incoming = spark.createDataFrame(
        [
            (10, "ALPHA   text"),  # dup of store doc 1 after normalization
            (11, "gamma text"),
            (12, "gamma  TEXT"),  # in-batch dup of 11
            (13, "delta text"),
        ],
        ["doc_id", "text"],
    )
    kept = sorted(
        r["doc_id"] for r in dedup_against(incoming, seen).select("doc_id").collect()
    )
    assert kept == [11, 13]


def test_dedup_against_store_side_projects_fingerprint_only(spark):
    from hbsir_old_spark.functions.dedup import dedup_against

    seen = spark.createDataFrame(
        [(1, "a", "payload")], ["doc_id", "text", "wide"]
    )
    incoming = spark.createDataFrame([(2, "b", "x")], ["doc_id", "text", "wide"])
    plan = (
        dedup_against(incoming, seen)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "LeftAnti" in plan
    # the store side reduces to distinct fingerprints before the join: the
    # projection that computes __sfp__ must not carry the payload column,
    # and the build-side aggregate groups on the fingerprint alone
    store_side = plan.split("LeftAnti")[1]
    assert "Aggregate [__sfp__" in store_side
    sfp_project = next(
        line for line in store_side.splitlines() if "AS __sfp__" in line
    )
    assert "wide" not in sfp_project


def test_representative_filter_is_anti_join_only(spark):
    docs = spark.createDataFrame([(i, "t") for i in range(5)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(0, 1)], ["id_a", "id_b"])
    plan = (
        keep_cluster_representatives(docs, pairs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti" in plan


def test_priority_representatives_keep_best_member(spark):
    # cluster {1,2,3} (chain), cluster {10,11}, singleton 20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    docs = spark.createDataFrame(
        [
            (1, 5.0),
            (2, 9.0),   # best of {1,2,3}
            (3, 7.0),
            (10, 4.0),
            (11, 4.0),  # ties with 10 -> min id 10 wins
            (20, 1.0),  # no pair: always kept
        ],
        ["doc_id", "quality"],
    )
    kept = sorted(
        r["doc_id"]
        for r in keep_cluster_representatives(
            docs, pairs, priority_col="quality"
        ).collect()
    )
    assert kept == [2, 10, 20]


def test_priority_representatives_corpus_moves_once(spark):
    docs = spark.createDataFrame(
        [(i, "t", float(i)) for i in range(6)], ["doc_id", "text", "q"]
    )
    pairs = spark.createDataFrame([(0, 1)], ["id_a", "id_b"])
    plan = (
        keep_cluster_representatives(docs, pairs, priority_col="q")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti" in plan


class TestComponentsPropertyBased:
    """Pointer-jumping connected components vs a plain union-find oracle on
    randomized graphs — pins the iterative distributed algorithm (round
    count, convergence-flag fold, label minimality) against an independent
    sequential implementation."""

    @staticmethod
    def _union_find_components(edges):
        parent: dict = {}

        def find(x):
            r = x
            while parent.setdefault(r, r) != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        # min-label per component over nodes that appear in any edge
        comp: dict = {}
        for n in list(parent):
            comp[n] = find(n)
        # find() roots are not guaranteed min under arbitrary union order;
        # normalize: min node id per root
        by_root: dict = {}
        for n, r in comp.items():
            by_root.setdefault(r, set()).add(n)
        out = {}
        for members in by_root.values():
            m = min(members)
            for n in members:
                out[n] = m
        return out

    def test_random_graphs_match_union_find(self, spark):
        import random

        rng = random.Random(20260814)
        for trial in range(4):
            n_nodes = rng.choice([8, 40, 120])
            n_edges = rng.randint(1, n_nodes * 2)
            edges = [
                (rng.randrange(n_nodes), rng.randrange(n_nodes))
                for _ in range(n_edges)
            ]
            edges = [(u, v) for u, v in edges if u != v] or [(0, 1)]
            expected = self._union_find_components(edges)
            pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
            got = {
                r["node"]: r["component"]
                for r in connected_components(pairs).collect()
            }
            assert got == expected, f"trial {trial}: {sorted(edges)[:20]}"

    def test_long_chain_exercises_multiple_rounds(self, spark):
        # a 64-node path graph needs ~log2(64) pointer-jump rounds; the
        # min label must still propagate to the far end
        edges = [(i, i + 1) for i in range(63)]
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
        assert set(got.values()) == {0}
        assert len(got) == 64


def test_dedup_against_bucketed_store_shuffles_only_incoming(spark):
    # The 100-TB store shape: fingerprints PERSISTED at ingest and the
    # store bucketed by them (operators/scale.py:write_bucketed). The
    # anti join must then read the store's one fingerprint column over
    # the bucketed layout with NO store-side Exchange — only the incoming
    # batch shuffles.
    from hbsir_old_spark.functions.dedup import dedup_against
    from hbsir_old_spark.functions.text import doc_fingerprint
    from hbsir_old_spark.operators.scale import write_bucketed

    store_rows = [(i, f"stored document number {i}") for i in range(50)]
    store = spark.createDataFrame(store_rows, ["doc_id", "text"]).withColumn(
        "fp", doc_fingerprint("text")
    )
    write_bucketed(store, "dedup_store_bucketed", ["fp"], num_buckets=8)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # broadcast would (correctly) win at this size; disable it to
        # expose the fact-fact shape the bucketing exists for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        seen = spark.table("dedup_store_bucketed")
        incoming = spark.createDataFrame(
            [(100, "stored document number 7"),  # dup of store doc 7
             (101, "a genuinely new document")],
            ["doc_id", "text"],
        )
        out = dedup_against(incoming, seen, seen_fingerprint_col="fp")
        assert [r["doc_id"] for r in out.select("doc_id").collect()] == [101]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        # exactly the incoming-side exchanges survive: the store side of
        # the anti join rides the bucketed layout
        anti_segment = plan.split("LeftAnti")[1]
        # the store scan appears in a segment with no Exchange ABOVE it on
        # its own subtree: assert the scan's segment is the LAST exchange-
        # split piece of the anti-join subtree (nothing shuffles after it)
        assert anti_segment.split("Exchange")[-1].find("dedup_store_bucketed") >= 0
        # and the store scan reads only the fingerprint column (pruning)
        scan_line = next(
            line for line in plan.splitlines()
            if "dedup_store_bucketed" in line and "FileScan" in line
        )
        assert "text" not in scan_line.split("ReadSchema")[-1]
        # same answer as the recompute path
        baseline = sorted(
            r["doc_id"]
            for r in dedup_against(incoming, seen).select("doc_id").collect()
        )
        assert baseline == [101]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS dedup_store_bucketed")


class TestBloomDedup:
    def _store_and_batch(self, spark, n_store=200, n_batch=60):
        # store: docs 0..n_store-1; batch: half dups of store texts, half novel
        seen = spark.createDataFrame(
            [(i, f"stored document number {i} body") for i in range(n_store)],
            ["doc_id", "text"],
        )
        rows = []
        for i in range(n_batch):
            if i % 2 == 0:  # duplicate of store doc i (case-varied)
                rows.append((1000 + i, f"STORED document number {i} BODY"))
            else:
                rows.append((1000 + i, f"novel incoming document {i}"))
        return seen, spark.createDataFrame(rows, ["doc_id", "text"])

    def test_bloom_path_equals_exact_path(self, spark):
        from hbsir_old_spark.functions.dedup import dedup_against, dedup_against_bloom

        seen, batch = self._store_and_batch(spark)
        exact = {
            r["doc_id"] for r in dedup_against(batch, seen).select("doc_id").collect()
        }
        bloomed = {
            r["doc_id"]
            for r in dedup_against_bloom(batch, seen, m_bits=1 << 12, k=5)
            .select("doc_id")
            .collect()
        }
        assert bloomed == exact
        assert exact == {1000 + i for i in range(60) if i % 2 == 1}

    def test_no_false_negatives_and_bounded_fpp(self, spark):
        from hbsir_old_spark.functions.dedup import build_fingerprint_bloom
        from hbsir_old_spark.functions.text import doc_fingerprint
        from pyspark.sql import functions as F

        seen, _ = self._store_and_batch(spark, n_store=500, n_batch=2)
        bloom = build_fingerprint_bloom(seen, m_bits=1 << 16, k=7)
        assert len(bloom["words"]) == (1 << 16) // 64
        # probe every STORED fingerprint: all must hit (no false negatives).
        # The probe below is an INTENTIONALLY independent re-implementation
        # (not _bloom_word_mask) so a build/probe desync in the shared
        # helper cannot hide from this test.
        m, k, words = bloom["m_bits"], bloom["k"], bloom["words"]
        probe_df = seen.withColumn("__fp__", doc_fingerprint("text")).crossJoin(
            F.broadcast(
                spark.createDataFrame([(words,)], "__bloomwords__ array<bigint>")
            )
        )
        hit = None
        for i in range(k):
            h = F.pmod(F.xxhash64(F.lit(i), F.col("__fp__")), F.lit(m))
            t = (
                F.element_at(F.col("__bloomwords__"), (h / 64).cast("int") + 1)
                .bitwiseAND(F.call_function("shiftleft", F.lit(1).cast("long"), (h % 64).cast("int")))
                != 0
            )
            hit = t if hit is None else (hit & t)
        assert probe_df.filter(~hit).count() == 0
        # fresh fingerprints: false-positive rate stays near theory
        novel = spark.range(2000, 4000).select(
            F.md5(F.col("id").cast("string")).alias("__fp__")
        ).crossJoin(
            F.broadcast(
                spark.createDataFrame([(words,)], "__bloomwords__ array<bigint>")
            )
        )
        fp_hits = novel.filter(hit).count()
        # n=500, m=2^16 -> m/n=131, k=7 => fpp ~ 4e-6; allow generous slack
        assert fp_hits <= 5, f"false-positive rate collapsed: {fp_hits}/2000"

    def test_coverage_contract_and_merge_maintenance(self, spark):
        # the documented contract: a filter MISSING newer store rows
        # false-keeps their duplicates (a miss is definitely-novel by
        # design); merging the appended batch's filter restores coverage
        # without re-scanning the store
        from hbsir_old_spark.functions.dedup import (
            build_fingerprint_bloom,
            dedup_against_bloom,
            merge_blooms,
        )

        seen_old = spark.createDataFrame([(1, "early doc")], ["doc_id", "text"])
        appended = spark.createDataFrame([(2, "late doc")], ["doc_id", "text"])
        seen_new = seen_old.unionByName(appended)
        batch = spark.createDataFrame(
            [(10, "late DOC"), (11, "genuinely new")], ["doc_id", "text"]
        )
        stale = build_fingerprint_bloom(seen_old, m_bits=1 << 10, k=5)
        kept_stale = {
            r["doc_id"]
            for r in dedup_against_bloom(batch, seen_new, bloom=stale)
            .select("doc_id")
            .collect()
        }
        # doc 10 duplicates appended store doc 2 — the stale filter
        # false-keeps it (the pinned, documented failure mode)
        assert kept_stale == {10, 11}
        # incremental maintenance: OR in a filter over just the appended
        # rows; the merged filter dedups correctly
        fresh = merge_blooms(
            stale, build_fingerprint_bloom(appended, m_bits=1 << 10, k=5)
        )
        kept_fresh = {
            r["doc_id"]
            for r in dedup_against_bloom(batch, seen_new, bloom=fresh)
            .select("doc_id")
            .collect()
        }
        assert kept_fresh == {11}
        import pytest as _pytest

        with _pytest.raises(ValueError, match="shape mismatch"):
            merge_blooms(stale, build_fingerprint_bloom(appended, m_bits=1 << 11, k=5))
        # a truncated words list must fail fast, not silently under-merge
        truncated = {**stale, "words": stale["words"][:-1]}
        with _pytest.raises(ValueError, match="truncated or corrupt"):
            merge_blooms(truncated, stale)
        from hbsir_old_spark.functions.dedup import dedup_against_bloom as _dab

        with _pytest.raises(ValueError, match="truncated or corrupt"):
            _dab(batch, seen_new, bloom=truncated)

    def test_validation(self, spark):
        from hbsir_old_spark.functions.dedup import build_fingerprint_bloom

        seen = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        import pytest as _pytest

        with _pytest.raises(ValueError, match="m_bits"):
            build_fingerprint_bloom(seen, m_bits=100)
        with _pytest.raises(ValueError, match="k must"):
            build_fingerprint_bloom(seen, k=0)


class TestNearDedupAgainst:
    """functions/dedup.py:near_dedup_against — the fuzzy quadrant of the
    incremental-dedup family (exact: dedup_against; the x46 gate carries
    the full exact-mode oracle)."""

    def _frames(self, spark):
        store = spark.createDataFrame(
            [
                (101, "the quick brown fox jumps over the lazy dog today"),
                (103, "the quick brown fox jumps over the lazy dog today"),
                (105, "completely unrelated store text about spark plans"),
            ],
            ["doc_id", "text"],
        )
        batch = spark.createDataFrame(
            [
                # near-dups BOTH 101 and 103 (one word changed) -> the
                # MIN store id (101) must win the tie deterministically
                (2, "the quick brown fox jumps over the lazy dog tonight"),
                # novel
                (4, "totally different batch document with fresh words"),
                # shares the id VALUE 101 with a store doc but different
                # text: the surrogate tagging must keep the sides apart
                (101, "another novel batch document nothing alike"),
            ],
            ["doc_id", "text"],
        )
        return batch, store

    def test_exact_mode_min_store_id_wins_and_novel_is_null(self, spark):
        from hbsir_old_spark.functions.dedup import near_dedup_against

        batch, store = self._frames(spark)
        out = {
            r["doc_id"]: (r["near_dup_of"], r["near_dup_jaccard"])
            for r in near_dedup_against(
                batch, store, mode="exact", threshold=0.3, n=3
            ).collect()
        }
        assert out[2][0] == 101 and out[2][1] is not None
        assert out[4] == (None, None)
        assert out[101] == (None, None)
        assert len(out) == 3  # every batch row survives, annotated

    def test_exact_mode_matches_python_bruteforce(self, spark):
        import random

        from hbsir_old_spark.functions.dedup import near_dedup_against
        from hbsir_old_spark.functions.text import normalize_text  # noqa: F401

        rng = random.Random(42)
        vocab = [f"w{i}" for i in range(12)]
        mk = lambda k: " ".join(rng.choice(vocab) for _ in range(k))
        store_rows = [(i, mk(rng.randrange(4, 15))) for i in range(50, 70)]
        batch_rows = [(i, mk(rng.randrange(4, 15))) for i in range(20)]
        store = spark.createDataFrame(store_rows, ["doc_id", "text"])
        batch = spark.createDataFrame(batch_rows, ["doc_id", "text"])
        got = {
            r["doc_id"]: (r["near_dup_of"], r["near_dup_jaccard"])
            for r in near_dedup_against(
                batch, store, mode="exact", threshold=0.2, n=3
            ).collect()
        }

        def grams(text, n=3):
            t = text.lower().split()
            if len(t) <= n - 1:
                return {" ".join(t)}
            return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

        want = {}
        for bid, btext in batch_rows:
            bg = grams(btext)
            best = None
            for sid, stext in sorted(store_rows):
                sg = grams(stext)
                inter = len(bg & sg)
                if not inter:
                    continue
                j = round(inter / (len(bg) + len(sg) - inter), 6)
                if j >= 0.2 and best is None:
                    best = (sid, j)
            want[bid] = best if best else (None, None)
        assert got == want

    def test_lsh_mode_finds_planted_twins(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from hbsir_old_spark.functions.dedup import near_dedup_against

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        store = docs.filter("doc_id < 100")
        # plant EXACT copies of 20 store docs (jaccard 1.0 survives any
        # banding) among genuinely novel batch docs
        twins = store.filter("doc_id < 20").select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
        novel = docs.filter("doc_id >= 400").select(
            (F.col("doc_id") + 20000).alias("doc_id"), "text"
        )
        batch = twins.unionByName(novel)
        out = near_dedup_against(
            batch, store, mode="lsh", threshold=0.9, num_perm=16, bands=4
        )
        found = {
            r["doc_id"]: r["near_dup_of"]
            for r in out.filter(F.col("near_dup_of").isNotNull()).collect()
        }
        # planted-twin recall floor: every exact copy must be caught and
        # attributed to its source (or a byte-identical sibling)
        for i in range(20):
            assert 10000 + i in found, f"planted twin {10000+i} missed"

    def test_validation(self, spark):
        import pytest

        from hbsir_old_spark.functions.dedup import near_dedup_against

        batch, store = self._frames(spark)
        with pytest.raises(ValueError, match="mode"):
            near_dedup_against(batch, store, mode="bogus")
        with pytest.raises(ValueError, match="already has"):
            near_dedup_against(
                batch.withColumn("near_dup_of", F.lit(1)), store
            )

    def test_exact_mode_is_two_sided_no_union_self_join(self, spark):
        # review fix pinned: exact mode must join batch grams against
        # store grams (|B| x |S|), never self-join a tagged union (which
        # paid the full store-squared pair cost) — the surrogate literals
        # only exist on the LSH path
        import contextlib
        import io

        from hbsir_old_spark.functions.dedup import near_dedup_against

        batch, store = self._frames(spark)
        out = near_dedup_against(batch, store, mode="exact", threshold=0.3)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        # the 'b:'/'a:' surrogate concat and the Union node exist only on
        # the LSH path (the bare letters alone would false-match)
        assert "concat(b:" not in plan and "concat(a:" not in plan, (
            "exact mode went through the tagged-union self-join path"
        )
        assert "Union" not in plan

    def test_store_bands_path_equals_recompute_path(self, spark, sf_dir):
        # the persisted-band-table refresh shape must return EXACTLY what
        # the recompute path returns (band hashes are deterministic), and
        # its plan must never sign the store (no tagged union — the store
        # text appears only under the verify semi-join)
        from pyspark.sql import functions as F

        from hbsir_old_spark.functions.dedup import (
            minhash_band_hashes,
            near_dedup_against,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        store = docs.filter("doc_id < 100")
        batch = (
            store.filter("doc_id < 15")
            .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
            .unionByName(
                docs.filter("doc_id >= 450").select(
                    (F.col("doc_id") + 20000).alias("doc_id"), "text"
                )
            )
        )
        persisted = minhash_band_hashes(
            store, n=3, num_perm=16, bands=4
        )
        via_bands = near_dedup_against(
            batch, store, mode="lsh", threshold=0.9,
            num_perm=16, bands=4, store_bands=persisted,
        )
        via_recompute = near_dedup_against(
            batch, store, mode="lsh", threshold=0.9, num_perm=16, bands=4
        )
        key = lambda df: {
            r["doc_id"]: (r["near_dup_of"], r["near_dup_jaccard"])
            for r in df.collect()
        }
        assert key(via_bands) == key(via_recompute)
        # every planted twin caught through the persisted table
        got = key(via_bands)
        for i in range(15):
            assert got[10000 + i][0] is not None
        # and the plan must really be the no-store-re-sign shape: the
        # tagged-union recompute path (concat surrogates + Union) must
        # not appear — result equality alone could not tell a regressed
        # dispatch apart from the real persisted-bands path
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            near_dedup_against(
                batch, store, mode="lsh", threshold=0.9,
                num_perm=16, bands=4, store_bands=persisted,
            ).explain("formatted")
        plan = buf.getvalue()
        # (the batch INPUT itself contains a Union — twins ++ novel — so
        # the pin is the recompute path's surrogate concat, which only
        # the tagged-union re-sign would produce)
        assert "concat(b:" not in plan and "concat(a:" not in plan, (
            "store_bands path fell back to the tagged-union recompute"
        )

    def test_store_bands_validation(self, spark):
        import pytest

        from hbsir_old_spark.functions.dedup import (
            minhash_band_hashes,
            near_dedup_against,
        )

        batch, store = self._frames(spark)
        persisted = minhash_band_hashes(store)
        with pytest.raises(ValueError, match="store_bands"):
            near_dedup_against(
                batch, store, mode="exact", store_bands=persisted
            )
        # bands=None would auto-plan a banding that can disagree with the
        # persisted table (e.g. lsh_band_plan(0.3, 16) -> 8 bands vs the
        # table's 4): the equi-join would match nothing and every doc
        # would silently verdict novel — refused up front
        with pytest.raises(ValueError, match="explicit"):
            near_dedup_against(
                batch, store, mode="lsh", bands=None, store_bands=persisted
            )
        with pytest.raises(ValueError, match="__sid__"):
            near_dedup_against(
                batch,
                store.withColumn("__sid__", F.lit(1)),
                mode="lsh",
                bands=4,
                store_bands=persisted,
            )


class TestLshHotBuckets:
    """The LSH mega-cluster blow-up bound (VERDICT r10 next-round #2):
    a near-duplicate mega-cluster lands every member in the same
    (band, hash) buckets, and unbounded all-pairs generation inside those
    buckets is quadratic. minhash_lsh_pairs' hot_bucket_cap switches such
    buckets to star generation around k anchors — linear candidates,
    cluster connectivity preserved."""

    MEGA = 10_000

    def _mega_cluster(self, spark):
        # 10^4 near-identical variants of one 25-word template: any two
        # members share ~24 of ~26 bigram shingles (pairwise Jaccard
        # ~0.86), so every band bucket holds the whole cluster
        base = " ".join(f"w{i}" for i in range(25))
        return spark.range(self.MEGA).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", F.lit(base), F.concat(F.lit("v"), F.col("id"))).alias(
                "text"
            ),
        )

    def test_planted_mega_cluster_stays_linear_and_connected(self, spark):
        from hbsir_old_spark.functions.dedup import (
            minhash_band_hashes,
            minhash_lsh_pairs,
        )

        mega = self._mega_cluster(spark)
        # sanity: the plant really is adversarial — at least one band
        # bucket far exceeds the cap (without the cap this corpus would
        # generate ~MEGA^2/2 candidate pairs per hot band)
        bucket_sizes = (
            minhash_band_hashes(mega, n=2, num_perm=16, bands=4)
            .groupBy("band", "bh")
            .count()
        )
        max_bucket = bucket_sizes.agg(F.max("count")).collect()[0][0]
        assert max_bucket > 256, f"plant failed to create a hot bucket ({max_bucket})"

        pairs = minhash_lsh_pairs(
            mega,
            n=2,
            num_perm=16,
            bands=4,
            threshold=0.5,
            hot_bucket_cap=256,
            hot_bucket_anchors=8,
        ).localCheckpoint(eager=True)
        cnt = pairs.count()
        # linear bound: ~m*k star edges (plus small cold buckets), never
        # the ~5*10^7 of quadratic generation
        assert cnt <= self.MEGA * 20, f"candidate blow-up: {cnt} pairs"
        # connectivity: the verified star edges must keep the planted
        # cluster in ONE connected component (downstream dedup works by
        # cluster membership, not by the exhaustive pair list)
        comp = connected_components(pairs)
        n_nodes = comp.count()
        # a handful of members whose unique token wins enough minhash
        # positions land in singleton buckets and are missed by the
        # BANDING itself (identical outcome with the cap off — they share
        # no bucket with anyone); that is LSH recall, not the cap
        assert n_nodes >= self.MEGA * 0.995, (
            f"only {n_nodes} docs reached the pair graph"
        )
        biggest = (
            comp.groupBy("component").count().agg(F.max("count")).collect()[0][0]
        )
        assert biggest >= n_nodes * 0.995, (
            f"mega-cluster fragmented: biggest component {biggest}/{n_nodes}"
        )

    def test_cap_is_a_noop_on_normal_corpora(self, spark, sf_dir):
        # buckets at or under the cap keep exact all-pairs semantics: on a
        # corpus with no hot buckets the pair set is bit-identical with
        # the cap on (default) and off
        from hbsir_old_spark.functions.dedup import minhash_lsh_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        perturbed = docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" perturbed suffix token")).alias("text"),
        )
        corpus = docs.unionByName(perturbed)

        def pair_set(cap):
            out = minhash_lsh_pairs(
                corpus, n=2, num_perm=16, bands=4, threshold=0.5,
                hot_bucket_cap=cap,
            )
            return {
                (r["id_a"], r["id_b"], r["jaccard"]) for r in out.collect()
            }

        assert pair_set(256) == pair_set(None)

    def test_validation(self, spark):
        import pytest

        from hbsir_old_spark.functions.dedup import minhash_lsh_pairs

        df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        with pytest.raises(ValueError, match="hot_bucket_cap"):
            minhash_lsh_pairs(df, hot_bucket_cap=0)
        with pytest.raises(ValueError, match="hot_bucket_anchors"):
            minhash_lsh_pairs(df, hot_bucket_anchors=0)


class TestSimhashHotBuckets:
    """simhash_pairs shares minhash_lsh_pairs' mega-cluster hazard (all
    members share every fingerprint chunk); same star bound, same pins."""

    MEGA = 8_000

    def _mega(self, spark):
        base = " ".join(f"w{i}" for i in range(25))
        return spark.range(self.MEGA).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", F.lit(base), F.concat(F.lit("v"), F.col("id"))).alias(
                "text"
            ),
        )

    def test_mega_cluster_linear_and_connected(self, spark):
        from hbsir_old_spark.functions.dedup import simhash_pairs

        pairs = simhash_pairs(
            self._mega(spark),
            bits=32,
            chunk_bits=8,
            max_hamming=3,
            hot_bucket_cap=256,
            hot_bucket_anchors=8,
        ).localCheckpoint(eager=True)
        cnt = pairs.count()
        assert 0 < cnt <= self.MEGA * 40, f"candidate blow-up: {cnt} pairs"
        comp = connected_components(pairs)
        n_nodes = comp.count()
        # members whose unique token flips > max_hamming bits vs the
        # anchors are missed by SIMHASH itself, not the cap
        assert n_nodes >= self.MEGA * 0.9, f"only {n_nodes} docs in pair graph"
        biggest = (
            comp.groupBy("component").count().agg(F.max("count")).collect()[0][0]
        )
        assert biggest >= n_nodes * 0.95, (
            f"mega-cluster fragmented: biggest {biggest}/{n_nodes}"
        )

    def test_cap_is_a_noop_on_normal_corpora(self, spark, sf_dir):
        from hbsir_old_spark.functions.dedup import simhash_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        perturbed = docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        )
        corpus = docs.unionByName(perturbed)

        def pair_set(cap):
            out = simhash_pairs(corpus, bits=32, chunk_bits=8, hot_bucket_cap=cap)
            return {(r["id_a"], r["id_b"], r["hamming"]) for r in out.collect()}

        assert pair_set(256) == pair_set(None)

    def test_validation(self, spark):
        import pytest

        from hbsir_old_spark.functions.dedup import simhash_pairs

        df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
        with pytest.raises(ValueError, match="hot_bucket_cap"):
            simhash_pairs(df, hot_bucket_cap=0)
        with pytest.raises(ValueError, match="hot_bucket_anchors"):
            simhash_pairs(df, hot_bucket_anchors=0)
        # zero chunks would mean zero candidates, silently
        with pytest.raises(ValueError, match="chunk_bits"):
            simhash_pairs(df, bits=32, chunk_bits=64)
        with pytest.raises(ValueError, match="chunk_bits"):
            simhash_pairs(df, chunk_bits=0)


class TestStoreBandsHotBuckets:
    """The store_bands refresh probe's hot-bucket bound: a mega-cluster
    in the STORE collapses to its smallest-id anchors per bucket, and
    because the output keeps the MINIMUM verified store id, a true
    cluster match reports the same id capped or uncapped."""

    def test_mega_cluster_store_probe_keeps_min_id_matches(self, spark):
        from hbsir_old_spark.functions.dedup import (
            minhash_band_hashes,
            near_dedup_against,
        )

        base = " ".join(f"w{i}" for i in range(25))
        # store: 5000-member near-identical cluster (ids 100..5099) plus
        # distinct normal docs (ids 0..9)
        cluster = spark.range(100, 5100).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", F.lit(base), F.concat(F.lit("s"), F.col("id"))).alias(
                "text"
            ),
        )
        normal = spark.range(10).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.concat(F.lit("unique"), F.col("id")),
                F.concat(F.lit("topic"), F.col("id") * 7),
                F.concat(F.lit("words"), F.col("id") * 13),
                F.concat(F.lit("here"), F.col("id") * 29),
            ).alias("text"),
        )
        store = cluster.unionByName(normal)
        persisted = minhash_band_hashes(
            store, n=2, num_perm=16, bands=4
        ).localCheckpoint(eager=True)
        # batch: 20 fresh near-copies of the cluster template + 5 novel
        probe = spark.range(20).select(
            (F.col("id") + 1_000_000).alias("doc_id"),
            F.concat_ws(" ", F.lit(base), F.concat(F.lit("b"), F.col("id"))).alias(
                "text"
            ),
        )
        novel = spark.range(5).select(
            (F.col("id") + 2_000_000).alias("doc_id"),
            F.concat_ws(
                " ",
                F.concat(F.lit("fresh"), F.col("id")),
                F.concat(F.lit("novel"), F.col("id") * 3),
                F.concat(F.lit("content"), F.col("id") * 11),
            ).alias("text"),
        )
        batch = probe.unionByName(novel)
        out = near_dedup_against(
            batch,
            store,
            mode="lsh",
            threshold=0.5,
            n=2,
            num_perm=16,
            bands=4,
            store_bands=persisted,
            hot_bucket_cap=256,
            hot_bucket_anchors=8,
        )
        got = {r["doc_id"]: r["near_dup_of"] for r in out.collect()}
        # every cluster near-copy matches, and to the cluster's MINIMUM
        # id (100) — the anchor property: the min id survives the cap
        for i in range(20):
            assert got[1_000_000 + i] == 100, (
                f"batch doc {1_000_000 + i} matched {got[1_000_000 + i]}"
            )
        for i in range(5):
            assert got[2_000_000 + i] is None


class TestCapBandBuckets:
    """Write-time star cap for persisted band tables: the ingest-side
    complement of the probe-side cap — cap once, probe zero-Exchange."""

    def test_noop_below_cap_and_star_above(self, spark):
        from hbsir_old_spark.functions.dedup import cap_band_buckets

        rows = (
            # cold bucket: 3 members, all survive
            [(i, 0, 111) for i in range(3)]
            # hot bucket: 50 members, only the k smallest ids survive
            + [(i, 1, 222) for i in range(50)]
        )
        bands = spark.createDataFrame(rows, "doc_id long, band int, bh int")
        out = cap_band_buckets(bands, hot_bucket_cap=10, hot_bucket_anchors=4)
        got = {(r["band"], r["bh"]): [] for r in out.collect()}
        for r in out.collect():
            got[(r["band"], r["bh"])].append(r["doc_id"])
        assert sorted(got[(0, 111)]) == [0, 1, 2]
        assert sorted(got[(1, 222)]) == [0, 1, 2, 3]  # the 4 smallest ids

    def test_validation(self, spark):
        import pytest

        from hbsir_old_spark.functions.dedup import cap_band_buckets

        bands = spark.createDataFrame([(1, 0, 1)], "doc_id long, band int, bh int")
        with pytest.raises(ValueError, match="hot_bucket_cap"):
            cap_band_buckets(bands, hot_bucket_cap=0)
        with pytest.raises(ValueError, match="hot_bucket_anchors"):
            cap_band_buckets(bands, hot_bucket_anchors=0)

    def test_bucketed_capped_store_probe_has_no_store_side_exchange(self, spark):
        # THE 100-TB refresh shape end-to-end: bands capped at ingest
        # (cap_band_buckets) -> bucketed on (band, bh) -> probe with
        # hot_bucket_cap=None rides the bucketed layout: no Exchange above
        # the store-bands scan in the candidate join, only the batch side
        # shuffles (the dedup_against bucketed-fingerprint precedent)
        from hbsir_old_spark.functions.dedup import (
            cap_band_buckets,
            minhash_band_hashes,
            near_dedup_against,
        )
        from hbsir_old_spark.operators.scale import write_bucketed

        store = spark.createDataFrame(
            [(i, f"stored document number {i} with shared words") for i in range(40)],
            ["doc_id", "text"],
        )
        bands = cap_band_buckets(
            minhash_band_hashes(store, n=2, num_perm=16, bands=4)
        )
        write_bucketed(bands, "near_store_bands_bucketed", ["band", "bh"], 8)
        threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            persisted = spark.table("near_store_bands_bucketed")
            batch = spark.createDataFrame(
                [
                    (100, "stored document number 7 with shared words"),
                    (101, "a genuinely novel text string nothing shares"),
                ],
                ["doc_id", "text"],
            )
            out = near_dedup_against(
                batch,
                store,
                mode="lsh",
                # 0.6 keeps only the true twin: every other store doc
                # shares exactly 4 of 6 bigrams = jaccard 0.5
                threshold=0.6,
                n=2,
                num_perm=16,
                bands=4,
                store_bands=persisted,
                hot_bucket_cap=None,
            )
            got = {r["doc_id"]: r["near_dup_of"] for r in out.collect()}
            assert got[100] == 7 and got[101] is None
            # the probe's candidate join sits behind an eager
            # localCheckpoint inside near_dedup_against, so pin the plan
            # on the SAME join shape explicitly: batch bands x bucketed
            # store bands on (band, bh)
            bb = minhash_band_hashes(
                batch, n=2, num_perm=16, bands=4
            ).select(F.col("doc_id").alias("__bid__"), "band", "bh")
            cand = bb.join(
                persisted.select(F.col("doc_id").alias("__sid__"), "band", "bh"),
                ["band", "bh"],
            )
            plan = cand._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan
            # no Exchange between the join and the bucketed scan: the
            # scan sits in the LAST exchange-split segment of the plan
            # (only the batch side shuffles)
            tail_after_last_exchange = plan.split("Exchange")[-1]
            assert "near_store_bands_bucketed" in tail_after_last_exchange
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
            spark.sql("DROP TABLE IF EXISTS near_store_bands_bucketed")


class TestBandCandidates:
    """The one banded-candidate primitive: all pairs in cold buckets, a
    star around the k smallest ids in hot ones, each pair once."""

    def test_cold_all_pairs_hot_star(self, spark):
        from hbsir_old_spark.functions.dedup import band_candidates

        rows = (
            # cold bucket: 3 members
            [(i, 0, 111) for i in range(3)]
            # a second cold bucket repeating the pair (0, 1)
            + [(i, 2, 333) for i in range(2)]
            # hot bucket: 20 members
            + [(i, 1, 222) for i in range(10, 30)]
        )
        bands = spark.createDataFrame(rows, "id long, band int, bh int")

        def pairs(cap):
            got = [
                (r["id_a"], r["id_b"])
                for r in band_candidates(bands, ["band", "bh"], "id", cap, 4).collect()
            ]
            assert len(got) == len(set(got)), "duplicate pairs"
            return set(got)

        cold = {(0, 1), (0, 2), (1, 2)}
        hot = range(10, 30)
        star = {(a, b) for a in range(10, 14) for b in hot if a < b}
        assert pairs(5) == cold | star
        assert pairs(None) == cold | {(a, b) for a in hot for b in hot if a < b}

    def test_curation_checkpoint_cascade_is_pinned(self, spark, monkeypatch):
        # minhash_lsh_pairs materializes banded, the size-joined bands (cap
        # only), the candidates and the shingle sliver: one eager job each
        from hbsir_old_spark.functions.dedup import minhash_lsh_pairs

        df = spark.createDataFrame(
            [(i, f"shared words of document {i % 3}") for i in range(12)],
            ["doc_id", "text"],
        )
        # the concrete (classic) DataFrame class, not the pyspark.sql facade
        cls = type(df)
        calls = []
        original = cls.localCheckpoint

        def counting(self, *args, **kwargs):
            calls.append(kwargs)
            return original(self, *args, **kwargs)

        monkeypatch.setattr(cls, "localCheckpoint", counting)
        minhash_lsh_pairs(df, n=2, hot_bucket_cap=4)
        assert calls == [{"eager": True}] * 4
        calls.clear()
        minhash_lsh_pairs(df, n=2, hot_bucket_cap=None)
        assert calls == [{"eager": True}] * 3


class TestUnionLshHotBuckets:
    """Review-pass regression: in near_dedup_against's side-tagged union
    LSH path, hot-bucket star anchors must come from the STORE side (the
    'a:' prefix sorts before 'b:'), or every non-anchor batch member of a
    mixed mega-cluster would carry only batch-batch star edges — all
    dropped by the cross filter — and be reported novel."""

    def test_mixed_mega_cluster_batch_members_still_match(self, spark):
        from hbsir_old_spark.functions.dedup import near_dedup_against

        base = " ".join(f"w{i}" for i in range(25))
        store = spark.range(100).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", F.lit(base), F.concat(F.lit("s"), F.col("id"))).alias(
                "text"
            ),
        )
        # 400 batch near-copies: the shared (band, hash) buckets hold
        # ~500 members, far above the 256 cap — without store-side
        # anchors every non-anchor batch doc would verdict novel
        batch = spark.range(400).select(
            (F.col("id") + 1_000_000).alias("doc_id"),
            F.concat_ws(" ", F.lit(base), F.concat(F.lit("b"), F.col("id"))).alias(
                "text"
            ),
        )
        out = near_dedup_against(
            batch, store, mode="lsh", threshold=0.5, n=2,
            num_perm=16, bands=4,
            hot_bucket_cap=256, hot_bucket_anchors=8,
        )
        matched = out.filter(F.col("near_dup_of").isNotNull()).count()
        # a few members whose unique token wins enough minhash positions
        # miss every band (LSH recall, not the cap)
        assert matched >= 396, f"only {matched}/400 mega-cluster members matched"


def test_simhash_pairs_whole_fingerprint_chunk(spark):
    # chunk_bits == bits == 64: one chunk holding every bit (its mask is
    # not a representable long literal)
    from hbsir_old_spark.functions.dedup import simhash_pairs

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z")], ["doc_id", "text"]
    )
    out = simhash_pairs(df, bits=64, chunk_bits=64, max_hamming=0)
    assert [tuple(r) for r in out.collect()] == [(1, 2, 0)]
