"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant at 100 TB):

* **exact_dedup** — one hash-groupBy on a fingerprint; map-side combine,
  single shuffle on the fingerprint key.
* **ngram_jaccard_pairs** — exact pairwise Jaccard via an equi-join on
  exploded shingles. Cost is Σ pairs sharing a shingle; use it on candidate
  sets or small corpora, and as the verify stage of MinHash-LSH.
* **minhash_lsh_pairs** — the scale path: per-doc k-perm MinHash signature
  (array expressions, no UDF), banded into b buckets; only docs sharing a
  band bucket are joined, then verified with exact Jaccard. Shuffle is on
  band buckets, never all-pairs.
* **simhash** — 32/64-bit fingerprint via aggregate/zip_with bit votes;
  near-dups have small Hamming distance; banding on bit chunks gives the
  candidate join.

MinHash hashes each shingle once (xxhash64, Spark-native, JVM-side) and
derives the k permutations via universal multiply-add hashing in the
2^31-1 field — k× less string hashing per shingle and compact generated
code (see _shingle_base_hash).
"""

from __future__ import annotations

import random
from functools import reduce
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hbsir_old_spark.functions.text import (  # noqa: F401 (re-export)
    doc_fingerprint,
    exploded_word_shingles,
    normalize_text,
    whitespace_tokens,
)
from hbsir_old_spark.functions.sampling import salted_limit_per_group
from hbsir_old_spark.session import ensure_min_partitions


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text, as an array<string>.

    This is the ARRAY form (per-doc distinct set) for callers that need
    the whole set per row — exact Jaccard, MinHash signatures. Pipelines
    that immediately ``explode`` the grams should use
    :func:`exploded_word_shingles` instead: it builds each gram in
    codegen'd ``slice``/``concat_ws`` where this form runs an interpreted
    ``transform`` lambda per gram. The token array is bound once, as the
    one element of a ``transform`` over a singleton array, so the cost is
    linear in the document's length: referring to the tokenizing
    expression inside the gram lambda would re-normalize and re-split the
    whole text once per gram."""
    col = F.col(col) if isinstance(col, str) else col

    def grams(tokens: Column) -> Column:
        count = F.greatest(F.size(tokens) - (n - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), count),
                lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
            )
        )

    return F.transform(F.array(F.split(normalize_text(col), " ")), grams)[0]


# exploded_word_shingles lives in text.py (text cannot import dedup —
# the dependency runs the other way) and is re-exported here beside its
# array-form twin for discoverability.


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min",
    strategy: str = "agg",
    fingerprint_col: str | None = None,
) -> DataFrame:
    """Keep one row per exact (normalized) duplicate group — the row with the
    min (or max) id. Rows whose id is NULL are dropped up front (the window
    formulation this replaced dropped them too: ``id == min(id) over group``
    is NULL for a NULL id; without the filter, ``min_by`` would instead emit
    one all-null row for a group whose ids are all NULL).

    Two physical strategies, same result:

    * ``agg`` — ``groupBy(fingerprint).agg(min_by(payload, id))``:
      partial-aggregable, each map partition pre-collapses its duplicates so
      one payload per (fingerprint, partition) rides the single shuffle.
      Best when duplicates are common (the 100-TB dedup regime).
    * ``semi`` — ``groupBy(fingerprint).agg(min(id))`` then a left-semi join
      back on id: the aggregation shuffle carries only (fingerprint, id)
      pairs, at the cost of a second (id-keyed) shuffle of the surviving
      rows. Best when duplicates are rare and payload rows are wide.

    Deterministic either way (ids are unique per document).
    ``fingerprint_col`` reuses an already-computed fingerprint column
    instead of re-deriving it from the text (Catalyst does not CSE the
    normalize+md5 expression across operators, so callers that already
    paid for it — e.g. :func:`dedup_against` — pass it in)."""
    if strategy not in ("agg", "semi"):
        raise ValueError(f"strategy must be 'agg' or 'semi', got {strategy!r}")
    df = ensure_min_partitions(df).filter(F.col(id_col).isNotNull())
    fp = F.col(fingerprint_col) if fingerprint_col else doc_fingerprint(text_col)
    if strategy == "semi":
        pick_id = F.min if keep == "min" else F.max
        keepers = (
            df.groupBy(fp.alias("__fp__"))
            .agg(pick_id(F.col(id_col)).alias("__keep__"))
            .select("__keep__")
        )
        return df.join(keepers, F.col(id_col) == F.col("__keep__"), "left_semi")
    pick = F.min_by if keep == "min" else F.max_by
    payload = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy(fp.alias("__fp__"))
        .agg(pick(payload, F.col(id_col)).alias("__row__"))
        .select("__row__.*")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact pairwise Jaccard over word n-gram sets, for pairs sharing >= 1
    shingle. Output: (id_a, id_b, jaccard) with id_a < id_b, rounded 6dp."""
    df = ensure_min_partitions(df)
    shingled = df.select(
        F.col(id_col).alias("__id__"), word_shingles(text_col, n).alias("__sh__")
    )
    sizes = shingled.select("__id__", F.size("__sh__").alias("__n__"))
    exploded = shingled.select("__id__", F.explode("__sh__").alias("__s__"))
    a, b = exploded.alias("a"), exploded.alias("b")
    common = (
        a.join(b, (F.col("a.__s__") == F.col("b.__s__")) & (F.col("a.__id__") < F.col("b.__id__")))
        .groupBy(F.col("a.__id__").alias("id_a"), F.col("b.__id__").alias("id_b"))
        .agg(F.count("*").alias("__common__"))
    )
    na, nb = sizes.alias("na"), sizes.alias("nb")
    out = (
        common.join(na, F.col("id_a") == F.col("na.__id__"))
        .join(nb, F.col("id_b") == F.col("nb.__id__"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("__common__")
                / (F.col("na.__n__") + F.col("nb.__n__") - F.col("__common__")),
                6,
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


#: Mersenne prime 2^31-1: the field for the universal permutation hashes.
#: a_j * base + b_j stays under 2^62, so the arithmetic never overflows a
#: long even with ANSI mode on.
_MERSENNE31 = (1 << 31) - 1


def _perm_constants(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) pairs for the universal hash family
    h_j(x) = (a_j*x + b_j) mod 2^31-1, a_j != 0. Fixed seed so signatures
    are reproducible across runs/sessions/clusters."""
    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_perm)
    ]


def _shingle_base_hash(s: Column) -> Column:
    """One xxhash64 per shingle, folded into the Mersenne field. All
    ``num_perm`` permutations derive from this single hash via multiply-add
    — hashing the string once instead of k times is the dominant cost at
    corpus scale, and the tiny generated code keeps whole-stage-codegen JIT
    cheap (k inlined xxhash64(lit(j), s) calls were measurably slow to
    compile on first run).

    Tradeoff: the effective shingle universe is 2^31, not 2^64 — a base-hash
    collision aliases two shingles in EVERY permutation simultaneously
    (independent per-perm seeds would only alias them in perms that
    individually collide). A doc with m distinct shingles expects
    ~m^2/2^32 aliased pairs: ~2e-4 for m=1000, ~2e-2 for m=10k — each
    aliased pair shrinks that doc's shingle set by at most one element, a
    Jaccard bias of O(1/m), well under the sketch's own 1/sqrt(k) noise at
    k=16-128. The bias only ever merges shingles, so it can only *raise*
    estimated similarity — the exact-Jaccard verify stage removes any false
    positive, and the false-negative risk is the O(1/m) undercount of the
    union, negligible against band-selection variance. If recall at
    extreme corpus scale ever matters more than hash cost, swap this for a
    2^61-1 field with split multiply-add (4 mults/perm instead of 1)."""
    return F.pmod(F.xxhash64(s), F.lit(_MERSENNE31))


def minhash_signature_from_shingles(shingles: Column | str, num_perm: int = 16) -> Column:
    """k-perm MinHash signature from a shingle array: element j = min over
    shingles of the j-th universal permutation of xxhash64(shingle).

    Single-pass formulation (one ``aggregate`` folding all k minima at once)
    rather than k separate array traversals: Catalyst's projection collapse
    would otherwise inline the shingle-building expression k times."""
    shingles = F.col(shingles) if isinstance(shingles, str) else shingles
    consts = _perm_constants(num_perm)
    bases = F.transform(shingles, _shingle_base_hash)
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_perm)
    return F.aggregate(
        bases,
        init,
        lambda acc, b: F.zip_with(
            acc,
            F.array(*[F.pmod(F.lit(a) * b + F.lit(c), F.lit(_MERSENNE31)) for a, c in consts]),
            lambda x, y: F.least(x, y),
        ),
    )


def minhash_signature(col: Column | str, n: int = 3, num_perm: int = 16) -> Column:
    """k-perm MinHash signature of the word n-gram set, as array<long>."""
    return minhash_signature_from_shingles(word_shingles(col, n), num_perm)


def dedup_against(
    incoming: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seen_text_col: str | None = None,
    keep: str = "min",
    seen_fingerprint_col: str | None = None,
    keep_fingerprint_col: str | None = None,
) -> DataFrame:
    """Incremental exact dedup: from ``incoming``, drop every document whose
    normalized-text fingerprint already exists in ``seen``, then collapse
    in-batch duplicates (keep the min/max id). This is the production shape
    at corpus scale — new data dedups against the existing store without
    ever re-touching the store's payloads:

    * the ``seen`` side reduces to a distinct fingerprint column before the
      join (project + partial-aggregable distinct — the store's documents
      themselves never move);
    * with ``seen_fingerprint_col``, the store's PERSISTED fingerprint
      column is used as-is instead of re-hashing its text — the store
      scan then reads exactly one column (pruning), and a store kept
      BUCKETED by that column (``operators/scale.py:write_bucketed`` at
      ingest) contributes NO store-side Exchange to the anti join: only
      the (small) incoming batch shuffles. This is the 100-TB shape —
      pinned by ``test_dedup_against_bucketed_store_shuffles_only_incoming``;
    * the anti join otherwise shuffles (fingerprint) against
      (fingerprint, row);
    * in-batch collapse reuses :func:`exact_dedup` (batch-sized, cheap);
    * ``keep_fingerprint_col`` returns the incoming side's (already paid
      for) fingerprint under that name instead of dropping it — the
      ingest sink persists it so the NEXT batch's store side never
      re-hashes (Catalyst does not CSE the normalize+md5 chain, so a
      caller re-deriving it would genuinely pay twice).
    """
    if seen_fingerprint_col is not None:
        seen_fp = seen.select(
            F.col(seen_fingerprint_col).alias("__sfp__")
        ).distinct()
    else:
        seen_fp = (
            seen.select(doc_fingerprint(seen_text_col or text_col).alias("__sfp__"))
            .distinct()
        )
    # fingerprint each incoming row ONCE: Catalyst does not CSE the
    # normalize+md5 expression between the join condition and the
    # downstream collapse aggregation
    tagged = incoming.withColumn("__fp__", doc_fingerprint(text_col))
    fresh = tagged.join(
        seen_fp, F.col("__fp__") == F.col("__sfp__"), "left_anti"
    )
    out = exact_dedup(
        fresh, text_col=text_col, id_col=id_col, keep=keep, fingerprint_col="__fp__"
    )
    if keep_fingerprint_col is None:
        return out.drop("__fp__")
    if keep_fingerprint_col == "__fp__":
        return out
    return out.withColumnRenamed("__fp__", keep_fingerprint_col)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list: returns
    (node, component) where component is the MINIMUM node id reachable.

    This is the missing half of pair-based dedup: LSH/Jaccard emit PAIRS,
    but "keep one copy per duplicate group" needs the transitive closure
    (A~B, B~C => one group {A,B,C}). Iterative min-label propagation with
    POINTER JUMPING (comp[u] <- comp[comp[u]] each round), the classic
    O(log n)-round MapReduce formulation — a chain of length n converges in
    ~log2(n) rounds, not n. Each round is two joins + one aggregation, all
    on (node, label) longs; ``localCheckpoint`` truncates the plan each
    round (iterative DataFrame lineage otherwise grows unboundedly and
    re-executes from scratch). Driver-side loop is control flow only — all
    data stays distributed; the convergence flag (did ANY label move this
    round) rides along as a column of the checkpointed frame, so checking
    it is one cheap scan of the already-materialized RDD — no extra join
    job per round.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # materialize the edge list once: every iteration joins against it, and
    # without this each round would re-execute the caller's whole
    # pair-generation pipeline (measured 20s -> ~6s on the x19 gate). Dup
    # pairs are small relative to the corpus by construction.
    sym = sym.localCheckpoint(eager=True)
    if max_iterations <= 0:
        # degenerate budget: every node is its own component (the identity
        # labels the old explicit-labels formulation returned unchanged)
        return sym.select("u").distinct().select(
            F.col("u").alias("node"), F.col("u").alias("component")
        )
    labels = None
    for it in range(max_iterations):
        if it == 0:
            # First-round specialization: the initial labels are the
            # identity (comp[u] = u), so the neighbor-min join degenerates
            # — min over neighbors v of comp[v] is just min(v), and the
            # node set is exactly sym's distinct u (sym carries both edge
            # directions). One aggregation replaces the old
            # distinct + eager checkpoint + two joins: one fewer eager job
            # and three fewer Exchanges per CC call, identical labels.
            stepped = sym.groupBy("u").agg(F.min("v").alias("__nmin__")).select(
                "u",
                F.col("u").alias("__old__"),
                F.least(F.col("u"), F.col("__nmin__")).alias("comp"),
            )
        else:
            nbr_min = (
                sym.join(labels.withColumnRenamed("u", "v"), "v")
                .groupBy("u")
                .agg(F.min("comp").alias("__nmin__"))
            )
            stepped = (
                labels.join(nbr_min, "u", "left")
                .select(
                    "u",
                    F.col("comp").alias("__old__"),
                    F.least(F.col("comp"), F.coalesce("__nmin__", F.col("comp"))).alias("comp"),
                )
            )
        # materialize before the pointer-jump SELF-join:
        # `stepped` is consumed as both join sides below, and without this
        # the round's neighbor-min join + aggregation re-execute once per
        # side (they read the checkpointed sym/labels RDDs, so no corpus
        # rescan — but at edge-list scale that is a full extra shuffle
        # per round). Fixture-scale A/B measured neutral (±0.2 s on a
        # 20k-edge graph: the extra job ≈ the saved re-execution); kept
        # for the at-scale halving of per-round shuffle work.
        stepped = stepped.localCheckpoint(eager=True)
        # pointer jump: labels are node ids, so comp's own label exists
        jump = stepped.select(F.col("u").alias("comp"), F.col("comp").alias("__jmp__"))
        new_comp = F.least(F.col("comp"), F.coalesce("__jmp__", F.col("comp")))
        jumped = (
            stepped.join(jump, "comp", "left")
            .select(
                "u",
                new_comp.alias("comp"),
                # convergence flag folded into the same pass: any label
                # that moved this round (vs the round-start value)
                (new_comp != F.col("__old__")).cast("int").alias("__chg__"),
            )
        )
        new_labels = jumped.localCheckpoint(eager=True)
        changed = new_labels.agg(F.max("__chg__")).collect()[0][0]
        labels = new_labels.select("u", "comp")
        if not changed:
            break
    return labels.select(F.col("u").alias("node"), F.col("comp").alias("component"))


def keep_cluster_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    priority_col: str | None = None,
) -> DataFrame:
    """Corpus-level near-dup removal: given duplicate PAIRS (from
    minhash_lsh_pairs / ngram_jaccard_pairs / simhash_pairs), keep exactly
    one document per connected duplicate cluster and every document that
    appears in no pair. A left-anti join against the (small)
    non-representative id set; the corpus never shuffles.

    Default representative is the min-id member (pure graph labels, no
    corpus access). With ``priority_col``, the representative is the
    cluster member with the HIGHEST priority (quality score, length,
    recency — the production curation shape: near-dup groups keep their
    best exemplar, not an arbitrary one), ties broken by min id. Only the
    clustered ids — bounded by pair count, tiny next to the corpus — join
    back to fetch priorities; the corpus itself still moves only through
    the final anti join."""
    comps = connected_components(pairs, src=src, dst=dst)
    if priority_col is None:
        non_reps = comps.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
    else:
        prio = df.select(
            F.col(id_col).alias("node"), F.col(priority_col).alias("__p__")
        )
        # members is consumed twice below (reps aggregation + non-reps
        # join); materialize it — bounded by pair count, tiny next to the
        # corpus — so the corpus is scanned once for priorities (same
        # pattern and executor-loss caveat as the band table above)
        members = comps.join(prio, "node").localCheckpoint(eager=True)
        # max_by over (priority, -id): highest priority wins, min id on ties
        reps = members.groupBy("component").agg(
            F.max_by(
                "node", F.struct(F.col("__p__"), (-F.col("node")).alias("__n__"))
            ).alias("__rep__")
        )
        non_reps = (
            members.join(reps, "component")
            .filter(F.col("node") != F.col("__rep__"))
            .select(F.col("node").alias(id_col))
        )
    return df.join(non_reps, id_col, "left_anti")


def lsh_band_plan(
    threshold: float,
    num_perm: int,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
    grid: int = 512,
) -> tuple[int, int]:
    """Choose ``(bands, rows_per_band)`` for MinHash-LSH targeting a
    Jaccard ``threshold``.

    The banding S-curve admits a pair at similarity ``s`` with probability
    ``P(s) = 1 - (1 - s**r)**b``; the ideal filter is a step at
    ``threshold``. This picks the ``(b, r)`` with ``b*r == num_perm``
    minimizing the weighted error area (the standard MMDS ch.3 criterion,
    also how datasketch sizes its index):

        ``fp_weight * ∫_0^t P(s) ds  +  fn_weight * ∫_t^1 (1 - P(s)) ds``

    integrated with a fixed-step trapezoid rule — deterministic, no
    dependencies, exhaustive over the divisors of ``num_perm`` (there are
    only O(log num_perm) of them). Only exact splits are considered: a
    remainder would silently drop signature rows, the same invariant
    :func:`minhash_lsh_pairs` enforces.

    At 100 TB this is the knob that matters: too many bands floods the
    verify stage with false candidates (its cost is candidate-pair count),
    too few bands silently loses recall — and the right split changes with
    ``threshold``, which is workload-dependent. Returns ``(bands,
    rows_per_band)``.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if num_perm < 1:
        raise ValueError(f"num_perm must be >= 1, got {num_perm}")
    best: tuple[float, int, int] | None = None
    for b in range(1, num_perm + 1):
        if num_perm % b != 0:
            continue
        r = num_perm // b
        fp = fn = 0.0
        step = 1.0 / grid
        prev_p = 0.0  # P(0) = 0
        for i in range(1, grid + 1):
            s = i * step
            p = 1.0 - (1.0 - s**r) ** b
            area = (prev_p + p) / 2.0 * step
            if s <= threshold:
                fp += area
            else:
                fn += step - area
            prev_p = p
        err = fp_weight * fp + fn_weight * fn
        if best is None or err < best[0]:
            best = (err, b, r)
    assert best is not None
    return best[1], best[2]


def _band_hash_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_perm: int,
    bands: int,
) -> DataFrame:
    """Internal: ``(__id__, __band__ struct<band,bh>)`` — the shared
    signature/banding stage of :func:`minhash_lsh_pairs` and
    :func:`minhash_band_hashes`, and the one place that validates their
    bands/num_perm contract.

    One streaming pass over exploded shingles builds the signatures; the
    full shingle table is never cached (a corpus-sized array<string>
    cache was the old cold-run cliff — and at 100 TB it would not fit
    anywhere). Verify stages recompute shingles for CANDIDATE docs only.
    Positions explode and each shingle builds with plain slice/concat_ws
    (whole-stage codegen; no interpreted transform lambda, no per-row
    array materialization) — duplicates are NOT removed here because
    groupBy-min is duplicate-oblivious; word_shingles' array form (with
    array_distinct) stays for the exact-Jaccard verifies."""
    if bands <= 0 or num_perm % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_perm ({num_perm}); "
            "otherwise signature rows would be silently dropped"
        )
    rows_per_band = num_perm // bands
    df = ensure_min_partitions(df)
    tokens = F.split(normalize_text(F.col(text_col)), " ")
    shingle_count = F.greatest(F.size(F.col("__t__")) - (n - 1), F.lit(1))
    exploded = (
        df.select(F.col(id_col).alias("__id__"), tokens.alias("__t__"))
        .select(
            "__id__",
            "__t__",
            F.explode(F.sequence(F.lit(1), shingle_count)).alias("__i__"),
        )
        .select(
            "__id__",
            F.concat_ws(" ", F.slice(F.col("__t__"), F.col("__i__"), n)).alias("__s__"),
        )
    )
    # signature via explode + codegen'd groupBy min: `min` is
    # partial-aggregable, so the shuffle carries one 16-long row per doc per
    # map partition — faster than interpreted higher-order array functions
    # and skew-safe at scale. Each shingle is hashed ONCE; the k
    # permutations are multiply-adds over that base hash (_shingle_base_hash).
    consts = _perm_constants(num_perm)
    exploded = exploded.withColumn("__b__", _shingle_base_hash(F.col("__s__")))
    sig = exploded.groupBy("__id__").agg(
        *[
            F.min(F.pmod(F.lit(a) * F.col("__b__") + F.lit(c), F.lit(_MERSENNE31))).alias(
                f"__h{j}__"
            )
            for j, (a, c) in enumerate(consts)
        ]
    )
    # bands carry ONLY (id, band-hash): the shingle arrays never ride
    # through candidate joins / dedup shuffles
    return sig.select(
        "__id__",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(
                            *[F.col(f"__h{b * rows_per_band + k}__") for k in range(rows_per_band)]
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__band__"),
    )


def minhash_band_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Per-document LSH band hashes as a persistable table: ``(id_col,
    band, bh)``, one row per document per band — the signature analogue
    of the fingerprint column :func:`dedup_against` consumes via
    ``seen_fingerprint_col``. Persist this at ingest and every later
    batch's near-dedup screens against the STORE'S BANDS without
    re-reading or re-hashing the store's text
    (:func:`near_dedup_against` ``store_bands=``).

    The (n, num_perm, bands) triple is part of the table's CONTRACT:
    hashes computed under different parameters are silently incomparable
    — persist the triple alongside the table (a parquet key or path
    suffix) exactly as a fingerprint store pins its normalization.
    Deterministic across runs/sessions/clusters (fixed-seed permutation
    constants).
    """
    banded = _band_hash_table(df, id_col, text_col, n, num_perm, bands)
    return banded.select(
        F.col("__id__").alias(id_col),
        F.col("__band__.band").alias("band"),
        F.col("__band__.bh").alias("bh"),
    )


def _hot_buckets(
    bands: DataFrame,
    keys: Sequence[str],
    id_col: str,
    cap: int | None,
    anchors: int,
    checkpoint: bool = False,
) -> tuple[DataFrame, DataFrame | None, DataFrame | None]:
    """``(cold, hot, anchor_rows)`` of a band table under
    :func:`band_candidates`' rule: rows of buckets (equal ``keys``) of at
    most ``cap`` members, rows of larger buckets, and each hot bucket's
    ``anchors`` smallest-``id_col`` rows; ``cap=None`` gives
    ``(bands, None, None)``. ``checkpoint`` materializes the size-joined
    table for callers that read it more than twice."""
    if cap is not None and cap < 1:
        raise ValueError(f"hot_bucket_cap must be >= 1 or None, got {cap}")
    if anchors < 1:
        raise ValueError(f"hot_bucket_anchors must be >= 1, got {anchors}")
    if cap is None:
        return bands, None, None
    # one partial agg; the size join shuffles on the bucket key that the
    # candidate join needs anyway
    sizes = bands.groupBy(*keys).agg(F.count("*").alias("__bsz__"))
    with_sz = bands.join(sizes, list(keys))
    if checkpoint:
        with_sz = with_sz.localCheckpoint(eager=True)
    cold = with_sz.filter(F.col("__bsz__") <= cap).drop("__bsz__")
    hot = with_sz.filter(F.col("__bsz__") > cap).drop("__bsz__")
    anchor_rows = salted_limit_per_group(hot, keys, [F.col(id_col)], anchors, id_col)
    return cold, hot, anchor_rows


def band_candidates(
    bands: DataFrame,
    keys: Sequence[str],
    id_col: str,
    cap: int | None,
    anchors: int,
) -> DataFrame:
    """Candidate pairs ``(id_a, id_b)``, ``id_a < id_b``, each once, of
    ids sharing a bucket (rows of ``bands`` with equal ``keys``) — the one
    candidate primitive of MinHash LSH, SimHash and image/audio dHash.

    **The hot-bucket rule.** A near-duplicate mega-cluster lands every
    member in the SAME bucket, where all-pairs is quadratic. A bucket of
    at most ``cap`` members yields all its pairs; a larger one yields a
    STAR, every member paired only with the bucket's ``anchors``
    smallest-id members (two-level salted top-k, never one whole-bucket
    window): ``m * k`` candidates, not ``m^2 / 2``. ``cap=None`` yields
    all pairs. With no bucket above the cap the pairs are the same, cap on
    or off. In a true mega-cluster every member is near-identical to the
    anchors, so the verified star keeps the cluster CONNECTED and its min
    id is an anchor: dedup by cluster membership loses nothing. Given up:
    a dissimilar hash-collision pair whose only shared bucket is hot — the
    probabilistic trade banding already makes. :func:`cap_band_buckets`
    truncates persisted tables to the same anchors.

    With a cap, the size-joined table is materialized once (eager
    ``localCheckpoint``): both cold sides, the hot rows and the anchor
    selection read it."""
    cold, hot, anchor_rows = _hot_buckets(
        bands, keys, id_col, cap, anchors, checkpoint=True
    )
    a, b = cold.alias("a"), cold.alias("b")
    same_bucket = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    pairs = a.join(
        b,
        reduce(lambda x, y: x & y, same_bucket)
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    if hot is not None:
        star = (
            hot.join(
                anchor_rows.select(*keys, F.col(id_col).alias("__anchor__")),
                list(keys),
            )
            .filter(F.col(id_col) != F.col("__anchor__"))
            .select(
                F.least(id_col, "__anchor__").alias("id_a"),
                F.greatest(id_col, "__anchor__").alias("id_b"),
            )
        )
        pairs = pairs.unionByName(star)
    return pairs.dropDuplicates(["id_a", "id_b"])


def cap_band_buckets(
    bands: DataFrame,
    id_col: str = "doc_id",
    hot_bucket_cap: int = 256,
    hot_bucket_anchors: int = 8,
) -> DataFrame:
    """WRITE-TIME truncation of a persisted band-hash table
    (:func:`minhash_band_hashes`): buckets above ``hot_bucket_cap`` keep
    only their ``hot_bucket_anchors`` smallest-id members — the anchors of
    :func:`band_candidates`' hot-bucket rule. Apply this once at ingest,
    before persisting/bucketing the table
    (``operators/scale.py:write_bucketed`` on ``["band", "bh"]``), and
    every later refresh probes a bounded table with ZERO store-side work
    — pass ``hot_bucket_cap=None`` to :func:`near_dedup_against` then,
    so the probe rides the bucketed layout with no store-side Exchange
    (probe-side capping re-shuffles the band table and is only the
    fallback for tables persisted without this cap).

    Keeping the smallest ids preserves the probe's min-id output rule
    for true mega-clusters: the minimum id of the cluster is always
    among the retained members. Appends stay bounded: each appended
    batch's table is capped independently, so a bucket grows by at most
    ``hot_bucket_cap`` per append (``hot_bucket_anchors`` when the
    batch's own bucket was hot) — size probe fan-out from the cap, not
    the anchor count."""
    # materialize once: the size agg, the size join, and both union
    # branches would otherwise each re-run the caller's signature pipeline
    cold, _, anchor_rows = _hot_buckets(
        bands.localCheckpoint(eager=True),
        ["band", "bh"],
        id_col,
        hot_bucket_cap,
        hot_bucket_anchors,
    )
    return cold.unionByName(anchor_rows.select(*cold.columns))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 16,
    bands: int | None = 4,
    threshold: float = 0.2,
    hot_bucket_cap: int | None = 256,
    hot_bucket_anchors: int = 8,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact Jaccard.

    Pipeline: signature -> split into ``bands`` row-chunks -> explode band
    hashes -> :func:`band_candidates` on (band, hash) -> exact Jaccard on
    the candidates only. Output schema matches :func:`ngram_jaccard_pairs`.

    ``bands=None`` sizes the banding automatically from ``threshold`` via
    :func:`lsh_band_plan` (minimum weighted FP+FN area of the S-curve).
    The explicit default (4 over 16 permutations) is kept for replay
    stability of existing callers.

    ``hot_bucket_cap``/``hot_bucket_anchors`` bound hot band-buckets by
    :func:`band_candidates`' star rule (``None`` disables the cap). This
    corpus self-join is where the quadratic mega-cluster blow-up actually
    detonates at corpus scale; the adversarial planted 10^4-member cluster
    test pins both the linear candidate bound and the single-cluster
    recall.
    """
    if bands is None:
        bands, _ = lsh_band_plan(threshold, num_perm)
    # repartition HERE, not only inside _band_hash_table: the verify
    # stage's candidate-sliver shingle recompute below reads this same
    # frame, and running it on a single input split cost the x3/x38b
    # queries ~3x warm
    df = ensure_min_partitions(df)
    banded = _band_hash_table(df, id_col, text_col, n, num_perm, bands)
    # Materialize the band table before the self-join: the two join sides
    # carry different attribute ids, so Spark does NOT reuse the upstream
    # exchange and the whole shingle->signature pipeline would execute once
    # PER SIDE (verified: 2 parquet scans in the un-checkpointed plan).
    # banded is tiny — (id, band, hash) per doc per band — so the
    # checkpoint is cheap and halves the dominant signature cost.
    banded = banded.localCheckpoint(eager=True)
    cand = band_candidates(
        banded, ["__band__"], "__id__", hot_bucket_cap, hot_bucket_anchors
    )
    # Materialize the candidate pairs once: they feed both the id semi-join
    # and the verify join, and re-deriving them would re-run the whole
    # signature pipeline. Candidate pairs are tiny relative to the corpus
    # (that is the point of LSH), so the checkpoint blocks are cheap; the
    # ContextCleaner reclaims them when the result DataFrame is released.
    # (localCheckpoint trades executor-loss recovery for not re-running the
    # band join — acceptable for a small derived set; use a reliable
    # checkpoint dir on a cluster where executor churn is expected.)
    cand = cand.localCheckpoint(eager=True)
    # Shingles for the verify stage are recomputed for candidate docs ONLY:
    # semi-join the corpus down to candidate ids (small -> auto-broadcast
    # under AQE), then rebuild the arrays for that sliver.
    cand_ids = (
        cand.select(F.col("id_a").alias("__id__"))
        .union(cand.select(F.col("id_b").alias("__id__")))
        .distinct()
    )
    shingled = (
        df.join(cand_ids, F.col(id_col) == cand_ids["__id__"], "left_semi")
        .select(F.col(id_col).alias("__id__"), word_shingles(text_col, n).alias("__sh__"))
    )
    # Materialize the candidate shingle sliver ONCE: the verify join
    # consumes it as BOTH sides (sh_a and sh_b), and the two sides carry
    # different attribute ids, so without this the semi-join + shingle
    # rebuild — including a full corpus scan — executes once PER SIDE.
    # The sliver is bounded by the candidate count, tiny next to the
    # corpus; same localCheckpoint recovery caveat as `cand` above.
    shingled = shingled.localCheckpoint(eager=True)
    sa = shingled.select(F.col("__id__").alias("id_a"), F.col("__sh__").alias("sh_a"))
    sb = shingled.select(F.col("__id__").alias("id_b"), F.col("__sh__").alias("sh_b"))
    verified = cand.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        verified.select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(col: Column | str, bits: int = 32) -> Column:
    """SimHash fingerprint: per-bit majority vote over token xxhash64
    values, folded with aggregate/zip_with — all native array expressions."""
    col = F.col(col) if isinstance(col, str) else col
    tokens = F.split(normalize_text(col), " ")
    zero = F.array_repeat(F.lit(0), bits)
    # bit positions are unrolled as Python ints (shiftright/shiftleft take
    # literal shift amounts), so the whole computation stays one expression
    votes = F.aggregate(
        tokens,
        zero,
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(F.shiftright(F.xxhash64(t), i).bitwiseAND(1) == 1, 1).otherwise(-1)
                    for i in range(bits)
                ]
            ),
            lambda x, y: x + y,
        ),
    )
    out = F.lit(0).cast("long")
    for i in range(bits):
        # shiftleft instead of a Python 1 << i literal: bit 63 would
        # overflow the signed-long literal range
        out = out + F.when(
            F.element_at(votes, i + 1) > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
    return out


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two long fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def _banded_hamming_pairs(
    fingerprints: DataFrame,
    explode_bands: Callable[[Column], Column],
    distance: Callable[[Column, Column], Column],
    max_hamming: int,
    hot_bucket_cap: int | None,
    hot_bucket_anchors: int,
) -> DataFrame:
    """The shared shape of the bit-fingerprint near-dup paths
    (:func:`simhash_pairs`, image and audio dHash): ``fingerprints`` is
    ``(__id__, __fp__)``; ``explode_bands(fp)`` is a generator yielding one
    ``(band, bh)`` row per band of a fingerprint. Candidates are the pairs
    sharing a band (:func:`band_candidates`), each verified on the EXACT
    ``distance`` of the two fingerprints. Returns ``(id_a, id_b, hamming)``
    with ``id_a < id_b`` and ``hamming <= max_hamming``."""
    # the fingerprint table feeds the band explode AND both verify sides;
    # materialize it once so the caller's fingerprint pipeline runs once
    fps = fingerprints.localCheckpoint(eager=True)
    banded = fps.select("__id__", explode_bands(F.col("__fp__")).alias("band", "bh"))
    cand = band_candidates(
        banded, ["band", "bh"], "__id__", hot_bucket_cap, hot_bucket_anchors
    )
    fa = fps.select(F.col("__id__").alias("id_a"), F.col("__fp__").alias("__fa__"))
    fb = fps.select(F.col("__id__").alias("id_b"), F.col("__fp__").alias("__fb__"))
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .select("id_a", "id_b", distance(F.col("__fa__"), F.col("__fb__")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    chunk_bits: int = 8,
    max_hamming: int = 3,
    hot_bucket_cap: int | None = 256,
    hot_bucket_anchors: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs. Candidates = docs sharing any ``chunk_bits``
    slice of the fingerprint. Pigeonhole guarantee: recall is COMPLETE only
    for ``max_hamming <= bits/chunk_bits - 1`` (the default); a larger
    ``max_hamming`` still works but pairs whose differing bits spread
    across every chunk are missed (approximate, like every banding LSH).

    Hot chunk-buckets (a near-dup mega-cluster shares every fingerprint
    chunk) follow :func:`band_candidates`' star rule; Hamming distance is
    still computed exactly on every emitted pair."""
    if not 1 <= chunk_bits <= bits:
        raise ValueError(
            f"chunk_bits must be between 1 and bits ({bits}), got {chunk_bits}"
        )
    # a 64-bit chunk is the whole fingerprint: -1 keeps every bit (the
    # 2^64 - 1 literal would overflow a signed long)
    mask = -1 if chunk_bits == 64 else (1 << chunk_bits) - 1

    def chunks(fp: Column) -> Column:
        return F.posexplode(
            F.array(
                *[
                    F.shiftright(fp, c * chunk_bits).bitwiseAND(mask)
                    for c in range(bits // chunk_bits)
                ]
            )
        )

    df = ensure_min_partitions(df)
    return _banded_hamming_pairs(
        df.select(F.col(id_col).alias("__id__"), simhash(text_col, bits).alias("__fp__")),
        chunks,
        hamming_distance,
        max_hamming,
        hot_bucket_cap,
        hot_bucket_anchors,
    )


def remove_duplicate_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    min_docs: int = 2,
    keep: str = "first",
) -> DataFrame:
    """Cross-corpus exact-substring deduplication — the REMOVAL pass of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", ExactSubstr), token-window form: every ``width``-token
    window of the normalized text that occurs in at least ``min_docs``
    DISTINCT documents is a duplicated passage; the tokens it covers are
    cut from the document and the remainder is reassembled in order.
    The removal counterpart of :func:`text.cross_doc_dup_windows`, which
    only reports the statistic — both mark exactly the same windows.

    ``keep``:

    * ``'first'`` (default, the paper's keep-one-copy behavior): for each
      duplicated window the lexicographically smallest ``(id, position)``
      occurrence is the canonical copy and survives; every other
      occurrence is cut.
    * ``'none'``: every occurrence of a duplicated window is cut (the
      strict form — e.g. for removing licenses/boilerplate outright).

    Semantics (pinned by tests):

    * matching is on the NORMALIZED token stream
      (:func:`text.normalize_text` — lowercased, whitespace-collapsed),
      so case/spacing variants of a passage still match; the output text
      preserves ORIGINAL token case;
    * output text is the surviving token stream rejoined with single
      spaces (the :func:`sampling.chunk_documents` convention) for every
      document, touched or not — so downstream tokenization sees the
      identical stream for untouched docs, and whitespace runs are not
      round-tripped;
    * documents shorter than ``width`` tokens contribute their whole-text
      window (the :func:`word_shingles` position-1 convention): a short
      doc duplicated elsewhere is removed entirely;
    * duplication means ``min_docs`` DISTINCT documents — repetition
      WITHIN one document never cuts (that is the Gopher within-doc
      rule, :func:`text.repetition_filter`);
    * NULL text passes through as NULL, empty/whitespace-only as ``''``,
      both with ``n_tokens = n_removed = 0``; a fully-duplicated doc
      comes back as ``''`` (empty string, never NULL);
    * NULL-id rows are dropped up front (the :func:`exact_dedup`
      contract): a NULL id cannot anchor the canonical pick or match the
      id-keyed reassembly join — keeping them would silently return
      their text as ``''`` with every token counted removed.

    Output: one row per (non-NULL-id) input document —
    ``(id_col, text_col cleaned, n_tokens, n_removed)``.

    Scale shape (the 100-TB path): window explode is map-only and fuses
    with the gram projection in one codegen span (the x32 lesson —
    explode positions, then ``slice``/``concat_ws`` read the token array
    in place); document frequency is distinct ``(hash, id)`` then a
    plain count (two partial-aggregable stages, not ``countDistinct``'s
    expand); the canonical pick is a partial-aggregable ``min(struct)``;
    coverage expansion is bounded by ``width ×`` duplicated occurrences;
    the final exclusion is one LEFT join flag on ``(id, position)``
    against the covered set; reassembly, the token count and the removed
    count come from one ``groupBy(id)`` over the flagged token stream
    (no join back to the input), whose state is bounded by a
    single document's tokens. No windows, no UDFs, no driver collection,
    no all-pairs anywhere.

    Reference analogue: none (beyond-reference LLM-pipeline operator).
    """
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    if min_docs < 2:
        raise ValueError(
            f"min_docs must be >= 2 (cross-document duplication), got {min_docs}"
        )
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")

    base = ensure_min_partitions(
        df.select(id_col, text_col).filter(F.col(id_col).isNotNull())
    )
    # original-case tokens for reassembly beside the normalized stream for
    # matching; normalization never changes the token count (it only
    # lowercases and collapses the same \s+ runs the tokenizer splits on),
    # so positions align between the two arrays
    toks = (
        base.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            whitespace_tokens(F.col(text_col)).alias("__t__"),
            F.split(normalize_text(F.col(text_col)), " ").alias("__n__"),
        )
        .where(F.size("__t__") >= 1)
    )
    occ = toks.select(
        F.col(id_col),
        F.size("__t__").alias("__sz__"),
        F.col("__n__"),
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.size("__t__") - (width - 1), F.lit(1))
            )
        ).alias("__pos__"),
    ).select(
        F.col(id_col),
        F.col("__sz__"),
        F.col("__pos__"),
        F.md5(F.concat_ws(" ", F.slice(F.col("__n__"), F.col("__pos__"), width))).alias(
            "__h__"
        ),
    )
    # ownership count and canonical pick fused into ONE two-stage
    # aggregation so the window explode feeds a single shuffle: per
    # (hash, doc) partials first (distinct-doc reduction + per-doc min
    # position in one partial-aggregable groupBy), then per hash. The
    # lexicographic min(struct(id, pos)) over all occurrences equals
    # min(struct(id, min-pos-of-that-id)) over the per-doc rows, so the
    # canonical pick rides the same reduced stream the count does —
    # without this fusion Catalyst derives the explode subtree once per
    # consumer (Spark reuses no subtrees) and aggregates it twice.
    per_doc = occ.groupBy("__h__", id_col).agg(F.min("__pos__").alias("__mp__"))
    dup_h = (
        per_doc.groupBy("__h__")
        .agg(
            F.count("*").alias("__nd__"),
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("__mp__").alias("p"))
            ).alias("__c__"),
        )
        .where(F.col("__nd__") >= min_docs)
        .select("__h__", "__c__")
    )
    dup_occ = occ.join(dup_h, "__h__")
    if keep == "first":
        cut = dup_occ.where(
            ~(
                (F.col(id_col) == F.col("__c__.i"))
                & (F.col("__pos__") == F.col("__c__.p"))
            )
        )
    else:
        cut = dup_occ
    covered = cut.select(
        F.col(id_col),
        F.explode(
            F.sequence(
                F.col("__pos__"),
                F.least(F.col("__pos__") + (width - 1), F.col("__sz__")),
            )
        ).alias("__tp__"),
    ).distinct()
    # Reassembly, token count and removed count from ONE groupBy over the
    # flagged token stream (the remove_boilerplate_lines shape): an
    # anti-join, group and join back against a FOURTH corpus scan would
    # cost a full corpus pass plus a doc-grain shuffle just to recover
    # n_tokens and the NULL/'' contract — columns the token stream already
    # carries. posexplode_outer keeps zero-token docs (NULL/empty/whitespace
    # text) as one NULL-position sentinel row, and a carried isNull flag
    # separates NULL text from '' (whitespace_tokens maps both to an empty
    # array).
    tokpos = base.select(
        F.col(id_col),
        F.col(text_col).isNull().alias("__tnull__"),
        F.posexplode_outer(whitespace_tokens(F.col(text_col))).alias(
            "__i0__", "__tok__"
        ),
    ).select(
        F.col(id_col),
        F.col("__tnull__"),
        (F.col("__i0__") + 1).alias("__tp__"),
        F.col("__tok__"),
    )
    # LEFT join, not LEFT ANTI: covered positions stay in the stream with a
    # flag so the same aggregation that rebuilds the text also counts total
    # and removed tokens. `covered` is distinct on (id, position), so the
    # join cannot duplicate a token row; the sentinel row's NULL position
    # never equi-matches.
    flagged = tokpos.join(
        covered.withColumn("__cut__", F.lit(True)), [id_col, "__tp__"], "left"
    )
    keep_struct = F.when(
        F.col("__cut__").isNull() & F.col("__tp__").isNotNull(),
        F.struct("__tp__", "__tok__"),
    )
    rebuilt = flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(keep_struct)),
                lambda s: s["__tok__"],
            ),
            " ",
        ).alias("__clean__"),
        # count(__tp__) skips the sentinel: zero-token docs report 0 exactly
        # as the old size(whitespace_tokens(...)) recompute did
        F.count("__tp__").cast("int").alias("n_tokens"),
        F.first("__tnull__").alias("__tnull__"),
        F.coalesce(
            F.sum(F.when(F.col("__cut__"), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_removed"),
    )
    return rebuilt.select(
        F.col(id_col),
        F.when(F.col("__tnull__"), F.lit(None).cast("string"))
        .otherwise(F.col("__clean__"))
        .alias(text_col),
        "n_tokens",
        "n_removed",
    )


def _bloom_word_mask(fp: Column, i: int, m_bits: int) -> Column:
    """The i-th Bloom position of a fingerprint as a
    ``struct<__w__: long, __m__: long>`` (word index, bit mask) —
    THE single definition both the build and the probe derive from, so
    the two can never desynchronize (a build/probe mismatch would break
    the zero-false-negative guarantee silently). ``pmod`` keeps positions
    non-negative; the mask uses SQL ``shiftleft`` via ``call_function``
    because the PySpark wrapper only accepts literal shift amounts."""
    h = F.pmod(F.xxhash64(F.lit(i), fp), F.lit(m_bits))
    return F.struct(
        (h / 64).cast("long").alias("__w__"),
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), (h % 64).cast("int")
        ).alias("__m__"),
    )


def build_fingerprint_bloom(
    seen: DataFrame,
    text_col: str = "text",
    seen_fingerprint_col: str | None = None,
    m_bits: int = 1 << 23,
    k: int = 7,
) -> dict:
    """Build a Bloom filter over the store's fingerprints — the broadcast
    membership pre-filter for :func:`dedup_against_bloom`.

    Distributed build: every fingerprint contributes k ``(word, bit)``
    positions (``pmod(xxhash64(i, fp), m)``, i = 0..k-1); a single
    partial-aggregable ``groupBy(word).agg(bit_or(mask))`` reduces the
    whole store to at most ``m_bits/64`` longs of model state, which is
    all that reaches the driver (1 MiB at the default 2^23 bits — NOT
    corpus data; same contract as kmeans_fit's k x d collect). At the
    default sizing the filter holds ~10^6 fingerprints at ~1.9% false
    positives ((1 - e^(-k·n/m))^k with m/n = 8.4, k = 7); for <1% size
    ``m_bits`` >= 10x the expected store cardinality (m/n = 10 -> ~0.8%),
    and shard by fingerprint prefix beyond ~10^8.

    Returns ``{"m_bits", "k", "words"}`` — a plain dict so the model can
    be persisted beside the store and reused across batches WITHOUT a
    rebuild, as long as it is kept covering: the filter must contain
    every fingerprint currently in the store (a Bloom miss is treated as
    definitely-novel, so a filter built before the store grew would
    false-KEEP duplicates of the newer store rows). Blooms are monotone,
    so the ingest loop maintains coverage cheaply — build a filter over
    just each batch's appended (novel) docs and :func:`merge_blooms` it
    into the persisted one; no store re-scan ever.
    """
    if m_bits < 64 or m_bits % 64 != 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if seen_fingerprint_col is not None:
        fps = seen.select(F.col(seen_fingerprint_col).alias("__fp__"))
    else:
        fps = seen.select(doc_fingerprint(text_col).alias("__fp__"))
    positions = fps.where(F.col("__fp__").isNotNull()).select(
        F.explode(
            F.array(
                *[
                    _bloom_word_mask(F.col("__fp__"), i, m_bits)
                    for i in range(k)
                ]
            ).alias("__wm__")
        ).alias("__wm__")
    )
    words_rows = (
        positions.select(
            F.col("__wm__.__w__").alias("__w__"), F.col("__wm__.__m__").alias("__m__")
        )
        .groupBy("__w__")
        .agg(F.bit_or("__m__").alias("__bits__"))
        .collect()  # <= m_bits/64 longs of MODEL state, not data
    )
    words = [0] * (m_bits // 64)
    for r in words_rows:
        words[r["__w__"]] = r["__bits__"]
    return {"m_bits": m_bits, "k": k, "words": words}


def merge_blooms(a: dict, b: dict) -> dict:
    """OR two Bloom filters built with identical ``(m_bits, k)`` — the
    incremental-maintenance step: a filter over just an appended batch
    merged into the store's persisted filter keeps the coverage contract
    without ever re-scanning the store (Bloom filters are monotone:
    the union's filter is exactly the bitwise OR)."""
    if a["m_bits"] != b["m_bits"] or a["k"] != b["k"]:
        raise ValueError(
            f"bloom shape mismatch: ({a['m_bits']}, {a['k']}) vs "
            f"({b['m_bits']}, {b['k']})"
        )
    expected = a["m_bits"] // 64
    for name, bl in (("left", a), ("right", b)):
        if len(bl["words"]) != expected:
            # zip() would silently truncate a short words list, and a
            # short merged filter under-covers — the exact failure the
            # coverage contract forbids; fail fast instead
            raise ValueError(
                f"{name} bloom words length {len(bl['words'])} != "
                f"m_bits/64 = {expected} (truncated or corrupt filter)"
            )
    return {
        "m_bits": a["m_bits"],
        "k": a["k"],
        "words": [x | y for x, y in zip(a["words"], b["words"])],
    }


def dedup_against_bloom(
    incoming: DataFrame,
    seen: DataFrame,
    bloom: dict | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    seen_text_col: str | None = None,
    keep: str = "min",
    seen_fingerprint_col: str | None = None,
    keep_fingerprint_col: str | None = None,
    m_bits: int = 1 << 23,
    k: int = 7,
) -> DataFrame:
    """:func:`dedup_against` with a broadcast Bloom pre-filter — result
    IDENTICAL by construction (pinned by test), cost model different:

    * the Bloom model rides to every task as one broadcast row; each
      incoming doc probes it with k flat codegen'd bit tests — map-only;
    * a MISS is definitely novel (a Bloom filter has no false negatives):
      those rows never enter the verify join at all;
    * only the HITS (true dups + the ~1% false positives) anti-join
      against the store's fingerprints — at ingest scale, where most of
      each batch is novel, the store-side verify join sees a sliver of
      the batch instead of all of it.

    Pass a prebuilt ``bloom`` (from :func:`build_fingerprint_bloom`,
    persisted beside the store) to skip the build. COVERAGE CONTRACT:
    the filter must contain every fingerprint in ``seen`` — only hits
    reach the verify join, so a filter missing newer store rows would
    false-keep their duplicates. Keep it covering incrementally: OR each
    appended batch's filter into the persisted one (:func:`merge_blooms`).
    """
    if bloom is None:
        bloom = build_fingerprint_bloom(
            seen,
            text_col=seen_text_col or text_col,
            seen_fingerprint_col=seen_fingerprint_col,
            m_bits=m_bits,
            k=k,
        )
    m, kk, words = bloom["m_bits"], bloom["k"], bloom["words"]
    if len(words) != m // 64:
        raise ValueError(
            f"bloom words length {len(words)} != m_bits/64 = {m // 64} "
            f"(truncated or corrupt filter)"
        )
    spark = incoming.sparkSession
    bloom_df = spark.createDataFrame([(words,)], "__bloomwords__ array<bigint>")

    tagged = incoming.withColumn("__fp__", doc_fingerprint(text_col)).crossJoin(
        F.broadcast(bloom_df)
    )
    hit = None
    for i in range(kk):
        wm = _bloom_word_mask(F.col("__fp__"), i, m)
        word = F.element_at(F.col("__bloomwords__"), wm["__w__"].cast("int") + 1)
        test = word.bitwiseAND(wm["__m__"]) != 0
        hit = test if hit is None else (hit & test)
    # NULL fingerprints (NULL text) probe to some bucket; either branch
    # keeps them — the verify join's equi-condition never matches NULL —
    # matching dedup_against's behavior exactly
    tagged = tagged.withColumn("__bloomhit__", hit).drop("__bloomwords__")

    if seen_fingerprint_col is not None:
        seen_fp = seen.select(F.col(seen_fingerprint_col).alias("__sfp__")).distinct()
    else:
        seen_fp = seen.select(
            doc_fingerprint(seen_text_col or text_col).alias("__sfp__")
        ).distinct()
    misses = tagged.filter(~F.col("__bloomhit__")).drop("__bloomhit__")
    verified = (
        tagged.filter(F.col("__bloomhit__"))
        .drop("__bloomhit__")
        .join(seen_fp, F.col("__fp__") == F.col("__sfp__"), "left_anti")
    )
    fresh = misses.unionByName(verified)
    out = exact_dedup(
        fresh, text_col=text_col, id_col=id_col, keep=keep, fingerprint_col="__fp__"
    )
    if keep_fingerprint_col is None:
        return out.drop("__fp__")
    if keep_fingerprint_col == "__fp__":
        return out
    return out.withColumnRenamed("__fp__", keep_fingerprint_col)


def near_dedup_against(
    batch: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    store_id_col: str | None = None,
    store_text_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
    mode: str = "lsh",
    num_perm: int = 16,
    bands: int | None = 4,
    out_col: str = "near_dup_of",
    jaccard_col: str = "near_dup_jaccard",
    store_bands: DataFrame | None = None,
    hot_bucket_cap: int | None = 256,
    hot_bucket_anchors: int = 8,
) -> DataFrame:
    """Incremental NEAR dedup: annotate every ``batch`` document with the
    store document it near-duplicates (Jaccard over word ``n``-grams >=
    ``threshold``), or NULL when novel — the missing quadrant beside the
    exact incremental path (:func:`dedup_against`), completing the
    production corpus-refresh shape: new data is screened against the
    existing store for BOTH exact and fuzzy copies without the store's
    payloads ever moving through a window.

    ``mode='exact'`` computes TWO-SIDED pairs directly — batch grams
    joined against store grams, so the work is |B| x |S| gram collisions
    and within-store pairs are never generated (an incremental operator
    whose cost scaled with store² would defeat its own point, which a
    union-self-join form would do).
    Deterministic, so the composed operator admits a full SQL oracle
    (the x38/x38b twin pattern). ``mode='lsh'`` (the 100-TB scale path)
    reuses :func:`minhash_lsh_pairs` verbatim — banded signatures,
    candidates carrying only (id, band-hash), exact-Jaccard verify on
    candidates alone — over a side-tagged union of the two sides, then
    keeps only the CROSS pairs: within-store work is candidates-only
    there (bounded by band collisions, not store²). Recall < 1 by LSH
    design (the planted-twin floor lives in tests).

    ``store_bands`` (LSH mode only) is the 100-TB refresh shape: pass the
    store's PERSISTED band-hash table (:func:`minhash_band_hashes`,
    written at ingest like ``dedup_against``'s fingerprint column) and
    only the BATCH is signed — candidates come from a batch-bands x
    store-bands equi-join (no store re-hash, no within-store candidates
    at all), and the store's text is touched only for the candidate
    sliver's exact-Jaccard verify (semi-join pruned). The (n, num_perm,
    bands) triple must match the one the table was built with — that
    contract is the table's schema, not checkable here, which is also
    why ``bands=None`` is REFUSED with ``store_bands`` (auto-planning a
    different banding would silently match nothing).

    Ties: among qualifying store matches the MINIMUM store id wins (its
    jaccard is reported) — same deterministic rule as the x23/x38
    canonical pick. Scope of the STRICT rule: in ``mode='exact'`` and on
    the ``store_bands`` path it is the typed minimum over ALL qualifying
    store docs (those paths order candidates by the real typed id). In
    the union-LSH path (``mode='lsh'`` without ``store_bands``) with the
    default-on ``hot_bucket_cap``, a capped hot bucket restricts
    candidates to anchors chosen in LEXICOGRAPHIC order over string
    surrogates (``'a:10' < 'a:2'``), so the reported id is the minimum
    VERIFIED id among those anchors — deterministic, but not necessarily
    the cluster's typed minimum (a generic surrogate encoding cannot
    make lexicographic order agree with BOTH integer and string id
    ordering). When the strict minimum matters on that path, pass
    ``hot_bucket_cap=None`` or use ``store_bands``.

    ``hot_bucket_cap``/``hot_bucket_anchors`` bound the LSH paths' hot
    band-buckets (LSH modes only; exact mode has no buckets) by
    :func:`band_candidates`' rule: the side-tagged union path takes its
    star, and the ``store_bands`` probe truncates hot STORE buckets to
    their anchors (:func:`cap_band_buckets`' truncation) — a batch doc
    probing a near-dup mega-cluster verifies against the cluster's
    smallest ids instead of all 10^5+ of them, and since the output
    keeps the MINIMUM verified store id, a true mega-cluster match
    reports the same id capped or not (the min id IS an anchor).
    Probe-side capping re-shuffles the band table, so for a table already
    capped AT INGEST (:func:`cap_band_buckets`) and bucketed on
    ``(band, bh)``, pass ``hot_bucket_cap=None``: the probe then rides the
    bucketed layout with no store-side Exchange at all (pinned by test).
    """
    if mode not in ("lsh", "exact"):
        raise ValueError(f"mode must be 'lsh' or 'exact', got {mode!r}")
    if store_bands is not None and mode != "lsh":
        raise ValueError("store_bands is only meaningful with mode='lsh'")
    if store_bands is not None and bands is None:
        # refusing beats silently deriving a banding from `threshold` that
        # differs from the persisted table's: mismatched bands make the
        # (band, bh) equi-join miss on everything — every batch doc would
        # quietly verdict 'novel' with recall ~0
        raise ValueError(
            "store_bands requires an explicit `bands` matching the one the "
            "table was built with (bands=None would auto-plan a banding "
            "that can silently disagree with the persisted hashes)"
        )
    sid = store_id_col or id_col
    stext = store_text_col or text_col
    # reserve the output names AND the internal working names — a
    # caller column named __bid__/__sid__/__m__ would otherwise surface
    # as an opaque ambiguous-reference AnalysisException at a join
    for c in (out_col, jaccard_col, "__bid__", "__m__"):
        if c in batch.columns:
            raise ValueError(f"batch already has a column named {c!r}")
    if store_bands is not None and "__sid__" in store.columns:
        raise ValueError(
            "store already has a column named '__sid__' (reserved by the "
            "store_bands verify join)"
        )
    store_type = store.schema[sid].dataType
    batch_type = batch.schema[id_col].dataType

    if mode == "lsh" and store_bands is not None:
        # the verify slivers below read batch/store shingle-wise directly;
        # a single-split parquet input would serialize them (the x3
        # lesson). The plain-LSH branch skips this: minhash_lsh_pairs
        # repartitions the union itself.
        batch = ensure_min_partitions(batch)
        store = ensure_min_partitions(store)
        # sign ONLY the batch; the store side is its persisted band table
        # (minhash_band_hashes re-validates the bands/num_perm contract)
        bb = minhash_band_hashes(
            batch, id_col=id_col, text_col=text_col,
            n=n, num_perm=num_perm, bands=bands,
        ).select(F.col(id_col).alias("__bid__"), "band", "bh")
        sb = store_bands.select(F.col(sid).alias("__sid__"), "band", "bh")
        if hot_bucket_cap is not None:
            # hot store buckets collapse to their anchors (see the
            # docstring trade); no checkpoint, sb is a persisted table
            cold, _, anchor_rows = _hot_buckets(
                sb, ["band", "bh"], "__sid__", hot_bucket_cap, hot_bucket_anchors
            )
            sb = cold.unionByName(anchor_rows)
        cand = (
            bb.join(sb, ["band", "bh"])
            .select("__bid__", "__sid__")
            .dropDuplicates(["__bid__", "__sid__"])
            # feeds two semi-joins + the verify join; without the
            # checkpoint the batch signature pipeline re-executes per use
            .localCheckpoint(eager=True)
        )
        bsliver = (
            batch.join(
                cand.select("__bid__"),
                F.col(id_col) == F.col("__bid__"),
                "left_semi",
            )
            .select(
                F.col(id_col).alias("__jbid__"),
                word_shingles(text_col, n).alias("__bsh__"),
            )
        )
        ssliver = (
            store.join(
                cand.select("__sid__"),
                F.col(sid) == F.col("__sid__"),
                "left_semi",
            )
            .select(
                F.col(sid).alias("__jsid__"),
                word_shingles(stext, n).alias("__ssh__"),
            )
        )
        # two-sided twin of minhash_lsh_pairs' verify stage (semi-join the
        # sliver BEFORE shingling, round(intersect/union, 6), filter >=
        # threshold) — keep the two recipes in lockstep: the test pins
        # this path's result EXACTLY equal to the recompute path's
        verified = cand.join(
            bsliver, F.col("__bid__") == F.col("__jbid__")
        ).join(ssliver, F.col("__sid__") == F.col("__jsid__"))
        inter = F.size(F.array_intersect("__bsh__", "__ssh__"))
        union_sz = F.size(F.array_union("__bsh__", "__ssh__"))
        normalized = verified.select(
            "__bid__",
            "__sid__",
            F.round(inter / union_sz, 6).alias("jaccard"),
        ).filter(F.col("jaccard") >= threshold)
    elif mode == "lsh":
        # disjoint string surrogates: 'a:<id>' = STORE, 'b:<id>' = batch —
        # pair ORDER from the pair fn is irrelevant here (we only classify
        # sides), and the ids are cast back to their real types before the
        # min-match pick. The store prefix must sort FIRST: the hot-bucket
        # star picks a bucket's smallest ids as anchors, and only
        # batch<->store edges survive the cross filter below — store-first
        # ordering makes a mixed mega-cluster's anchors store-side, so
        # every non-anchor batch member keeps a surviving cross edge
        # (batch-prefix-first anchors would leave only batch-batch star
        # edges, silently reporting the whole cluster novel; pinned by
        # TestUnionLshHotBuckets). Anchors order LEXICOGRAPHICALLY over the
        # surrogate: see the docstring's tie rule.
        b_tagged = batch.select(
            F.concat(F.lit("b:"), F.col(id_col).cast("string")).alias("__uid__"),
            F.col(text_col).alias("__text__"),
        )
        s_tagged = store.select(
            F.concat(F.lit("a:"), F.col(sid).cast("string")).alias("__uid__"),
            F.col(stext).alias("__text__"),
        )
        pairs = minhash_lsh_pairs(
            b_tagged.unionByName(s_tagged), id_col="__uid__",
            text_col="__text__", n=n, num_perm=num_perm, bands=bands,
            threshold=threshold, hot_bucket_cap=hot_bucket_cap,
            hot_bucket_anchors=hot_bucket_anchors,
        )
        side = lambda c: F.substring(c, 1, 2)
        raw = lambda c: F.expr(f"substring({c}, 3)")
        cross = pairs.filter(side(F.col("id_a")) != side(F.col("id_b")))
        normalized = cross.select(
            F.when(side(F.col("id_a")) == "b:", raw("id_a"))
            .otherwise(raw("id_b"))
            .cast(batch_type)
            .alias("__bid__"),
            F.when(side(F.col("id_a")) == "a:", raw("id_a"))
            .otherwise(raw("id_b"))
            .cast(store_type)
            .alias("__sid__"),
            "jaccard",
        )
    else:
        # gram explodes below read batch/store directly (the x3 lesson —
        # the union-LSH branch leaves this to minhash_lsh_pairs instead)
        batch = ensure_min_partitions(batch)
        store = ensure_min_partitions(store)
        # two-sided exact pairs: batch grams JOIN store grams (the x46
        # oracle's own shape) — |B| x |S| collisions, zero store-store work
        bsh = batch.select(
            F.col(id_col).alias("__bid__"),
            word_shingles(text_col, n).alias("__sh__"),
        )
        ssh = store.select(
            F.col(sid).alias("__sid__"),
            word_shingles(stext, n).alias("__sh__"),
        )
        bsz = bsh.select("__bid__", F.size("__sh__").alias("__bn__"))
        ssz = ssh.select("__sid__", F.size("__sh__").alias("__sn__"))
        be = bsh.select("__bid__", F.explode("__sh__").alias("__g__"))
        se = ssh.select("__sid__", F.explode("__sh__").alias("__g__"))
        common = (
            be.join(se, "__g__")
            .groupBy("__bid__", "__sid__")
            .agg(F.count("*").alias("__common__"))
        )
        normalized = (
            common.join(bsz, "__bid__")
            .join(ssz, "__sid__")
            .select(
                "__bid__",
                "__sid__",
                F.round(
                    F.col("__common__")
                    / (F.col("__bn__") + F.col("__sn__") - F.col("__common__")),
                    6,
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
    best = normalized.groupBy("__bid__").agg(
        F.min(F.struct(F.col("__sid__"), F.col("jaccard"))).alias("__m__")
    )
    return (
        batch.join(best, F.col(id_col) == F.col("__bid__"), "left")
        .select(
            *batch.columns,
            F.col("__m__.__sid__").alias(out_col),
            F.col("__m__.jaccard").alias(jaccard_col),
        )
    )
