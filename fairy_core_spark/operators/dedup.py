"""Deduplication operators for web-scale training-data pipelines.

Five families, each expressed Spark-first:

- **exact**: md5/xxhash groupBy — one shuffle on the content hash; the
  keep-first rule reuses the engine's dup semantics (min row id / doc id).
- **MinHash + LSH**: shingle -> md5-60bit -> k permutations ((a*h+b) mod p)
  -> band buckets -> candidate pairs via a self-equi-join on (band, value).
  Entirely native Column expressions (array transforms), no Python.
- **SimHash**: 64-bit sign-aggregated md5 token hashes, fully native
  (explode + 64 conditional sums); near-dups via Hamming<=k banded self-join.
- **n-gram Jaccard**: blocked pairwise token-set Jaccard — native
  array_intersect/array_distinct; block key bounds the pair blow-up.
- **embedding cosine**: near-dup pairs above a cosine threshold, blocked by
  an LSH sign-bucket (random-hyperplane) key.

Scale notes: every family is (project) -> (equi-join/groupBy on a bounded
key) -> (filter). Candidate generation never cross-joins: LSH bands /
blocks bound pair counts; skewed bands are AQE-splittable. At 10^12 rows
the only tunables are n_bands/rows-per-band and block key cardinality.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fairy_core_spark.operators.text import tokens

# deterministic permutation constants (published MinHash affine scheme).
# 31-bit Mersenne prime: products a*h stay < 2^62, safe under ANSI int64
# arithmetic (no overflow), and 2^31 hash space is ample for minhashing.
_MERSENNE_P = (1 << 31) - 1


def _perm_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = np.random.default_rng(seed)
    return [
        (int(rng.integers(1, _MERSENNE_P)), int(rng.integers(0, _MERSENNE_P))) for _ in range(k)
    ]


def _md5_60(col: Column) -> Column:
    """60-bit integer hash from the first 15 hex chars of md5 — chosen over
    xxhash64 because md5 is bit-identical in every engine (the DuckDB
    correctness oracle replays it as ('0x'||substring(md5(x),1,15))::BIGINT),
    while xxhash64 exists only in Spark. Still one JVM-native hash per value."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dup_groups(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Groups of byte-identical content: (content_hash, n, keeper_id).
    One map-side-combinable groupBy; at 100 TB hash first so the shuffle
    carries 16 bytes, not documents."""
    h = F.md5(F.col(content_col).cast("string")).alias("content_hash")
    return (
        df.select(h, F.col(id_col).alias("id"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n"), F.min("id").alias("keeper_id"))
        .where(F.col("n") > 1)
    )


def _strip_plan_stats(df: DataFrame) -> DataFrame:
    """Rebuild ``df`` as a fresh LogicalRDD over the same already-computed
    rows, dropping the plan statistics ``Dataset.localCheckpoint`` carries
    (``originStats``). The iterative loop below needs this: each round's
    plan joins the previous labels frame TWICE (propagation + pointer
    jump), and Spark's size-only join estimate is the PRODUCT of the
    child estimates (catalyst ``SizeInBytesOnlyStatsPlanVisitor.visitJoin``),
    so a carried sizeInBytes SQUARES every round — the BigInt digit count
    doubles per round, and past ~round 18 the stats visitor's BigInteger
    multiplies dominate wall time (jstack-measured: 56s at round 22 on a
    3k-node chain vs 0.5s/round flat with this rebuild; round cost was
    independent of graph size — pure driver-side stats arithmetic). Data
    stays JVM-side (``createDataFrame`` over the Dataset's
    ``JavaRDD[Row]`` — reads the checkpointed blocks, no Python row
    crossing); downstream jobs pay one extra Row<->InternalRow conversion,
    a linear constant traded against the exponential. Falls back to the
    frame as-is if the py4j surface ever drifts (correct, just slow past
    ~15 rounds)."""
    try:
        jdf = df._jdf
        jnew = df.sparkSession._jsparkSession.createDataFrame(jdf.javaRDD(), jdf.schema())
        return DataFrame(jnew, df.sparkSession)
    except Exception:  # pragma: no cover — py4j API drift guard
        return df


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    on_nonconverged: str = "warn",
) -> DataFrame:
    """Near-dup pairs -> canonical groups: (doc_id, group_id) where
    group_id = MIN doc id in the pair graph's connected component. The
    step every pairwise dedup family (minhash/simhash/embedding/phash)
    needs before it can *act*: keep group_id, drop the rest.

    Distributed min-label propagation with pointer jumping: labels start
    as self; each round every node takes the min of its label and its
    neighbors' labels (one equi-join on the symmetric edge list + one
    map-side-combinable min groupBy), then shortcuts to its *label's*
    label (one node-keyed self-join — labels are always node ids, so the
    lookup always resolves), until a round changes nothing. Propagation
    alone needs diameter rounds; the shortcut makes label trees collapse
    geometrically, so rounds = O(log diameter) — measured 24 -> 7 rounds
    on a 421-cell geographic adjacency chain (spatial ``cluster_cells``),
    while LSH dup clusters (near-stars, diameter ~2-4) still finish in
    2-3. ``max_iters`` is the runaway guard. Each round
    ``localCheckpoint``s to truncate lineage, so the plan stays O(1)
    deep, then rebuilds the labels frame stats-free
    (:func:`_strip_plan_stats`) so the checkpoint-carried join-size
    estimate can't square itself into exponential-digit BigInts round
    over round. The convergence probe is folded into the round: each node's
    previous label rides along in the same min-groupBy (tagged rows), so
    detecting "nothing changed" is a near-free scan of the
    just-materialized checkpoint — no extra probe join per round.

    If the loop exhausts ``max_iters`` with labels still moving, the
    partial labels are NOT silently returned as final:
    ``on_nonconverged="warn"`` (default) emits a ``RuntimeWarning`` and
    logs it; ``"raise"`` raises ``RuntimeError`` — pick raise in pipelines
    where a truncated propagation would corrupt a dedup keep-list.

    Scale: state is (node, label) pairs — two strings — and the edge
    list; both shuffle-partition by node id. No component is ever
    materialized on one task (unlike groupBy-collect_list approaches),
    so a 10^9-member component costs the same per round as 10^9
    singletons. Isolated docs (no dup pair) are absent from the output
    by design — left-join and coalesce(group_id, doc_id) to annotate a
    corpus.

    Plan-time stats caveat: the returned frame's sizeInBytes is the
    unknown-default (the stats reset that keeps the loop linear also
    forgets the true size; the unstripped alternative is no better — the
    final round's checkpoint carries a joins-product estimate in the
    2^126 range). Catalyst therefore won't auto-broadcast this frame
    into a downstream join at plan time: rely on AQE's runtime
    broadcast conversion (on by default here), or wrap the result in
    ``F.broadcast(...)`` when you know the label set is small."""
    if on_nonconverged not in ("warn", "raise"):
        raise ValueError(f"on_nonconverged must be 'warn' or 'raise', got {on_nonconverged!r}")
    a, b = F.col(id_a).alias("a"), F.col(id_b).alias("b")
    edges = (
        pairs.select(a, b)
        .union(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .persist()
    )
    labels = _strip_plan_stats(
        edges.select(F.col("a").alias("node")).distinct()
        .withColumn("lab", F.col("node"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iters):
        # previous label rides along tagged is_self=true, so the same
        # min-groupBy yields both the new label and the old one to compare
        prop = edges.join(labels, edges["b"] == labels["node"]).select(
            F.col("a").alias("node"), F.col("lab"), F.lit(False).alias("is_self")
        )
        selfrows = labels.select("node", "lab", F.lit(True).alias("is_self"))
        stepped = selfrows.union(prop).groupBy("node").agg(
            F.min("lab").alias("lab"),
            F.max(F.when(F.col("is_self"), F.col("lab"))).alias("prev_lab"),
        )
        # pointer jumping: lab <- min(lab, prev-round-label-of-lab). The
        # jump side is the PREVIOUS round's labels — already checkpointed,
        # so the propagation aggregate runs once, and every lab is a node
        # id present in it (left+coalesce is belt-and-braces). Reach per
        # round goes ~f -> 2f+1 instead of f -> f+1.
        jump = labels.select(
            F.col("node").alias("jnode"), F.col("lab").alias("jlab")
        )
        new = (
            stepped.join(jump, stepped["lab"] == jump["jnode"], "left")
            .select(
                "node",
                F.least(F.col("lab"), F.coalesce("jlab", "lab")).alias("lab"),
                "prev_lab",
            )
            .localCheckpoint()  # materializes the round (the only real job)
        )
        # near-free probe: scans the checkpoint just written, no join
        changed = new.where(F.col("lab") != F.col("prev_lab")).limit(1).count()
        # stats reset between rounds — see _strip_plan_stats: without it
        # the carried join-size estimate squares per round and the stats
        # visitor's BigInteger math goes exponential around round 18
        labels = _strip_plan_stats(new.select("node", "lab"))
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        msg = (
            f"connected_components did not converge within max_iters={max_iters}; "
            "returned group_ids are PARTIAL min-label propagation (component "
            "diameter exceeds the round budget) — raise max_iters"
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select(F.col("node").alias("doc_id"), F.col("lab").alias("group_id"))


def shingles(col: Column, n: int = 3) -> Column:
    """word n-gram shingle array (distinct) from a text column — native:
    slide over the token array with transform+slice. NOTE: building the
    shingle *strings* (slice + array_join per gram) measured 56s per 2M
    60-token docs — minhashing uses ``shingle_hashes`` instead, which
    never materializes them."""
    toks = tokens(col)
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(0), count - 1),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.array_distinct(F.when(count > 0, grams).otherwise(F.array()))


# shingle-hash combiner constant: h_gram = fold((acc*A + h_tok) % P) — with
# h_tok < P < 2^31 and A ~ 2^20, products stay < 2^52 (ANSI-safe)
_HASH_A = 1_000_003


def shingle_hashes(col: Column, n: int = 3) -> Column:
    """distinct word-n-gram hashes WITHOUT building shingle strings: hash
    each token once (md5-60bit), then combine adjacent hashes with a
    polynomial fold — 2 arithmetic ops per gram instead of a string
    allocation + md5 per gram (3.4x on the signature pipeline), and the
    fold runs as ONE direct-index transform via :func:`window_hashes`
    (another 4.2x measured at n=3 — the old n-stage zip_with chain
    materialized a fresh array per stage). Hash values are bit-identical
    to both prior forms; replayed exactly by the DuckDB oracle. Distinct
    keeps first-occurrence order (order-insensitive downstream)."""
    return F.array_distinct(window_hashes(col, n))


def window_hashes(col: Column, n: int = 8) -> Column:
    """POSITIONAL (non-distinct) sliding-window token-gram hashes — the
    ordered multiset of every length-``n`` token window. Same
    engine-portable fold as :func:`shingle_hashes` (md5-60bit token hash
    + polynomial combine, identical values; the DuckDB oracle replays it
    exactly), minus the dedup: the substring-duplication detector needs
    one entry per window POSITION, not per distinct gram.

    Built as ONE direct-index transform over the token-hash array instead
    of the n-stage zip_with chain: the chain materializes a fresh array
    per stage (measured 7x slower at n=8). The token-hash array is bound
    ONCE as a lambda variable (transform over a 1-element wrapper array),
    so its md5s are never re-evaluated per window."""
    th = F.transform(tokens(col), lambda t: _md5_60(t) % _MERSENNE_P)

    def _windows(tha: Column) -> Column:
        def fold(i: Column) -> Column:
            acc = F.element_at(tha, i + 1)
            for k in range(1, n):
                acc = (acc * _HASH_A + F.element_at(tha, i + 1 + k)) % _MERSENNE_P
            return acc

        return F.when(
            F.size(tha) >= n,
            F.transform(F.sequence(F.lit(0), F.size(tha) - n), fold),
        ).otherwise(F.array().cast("array<long>"))

    return F.get(F.transform(F.array(th), _windows), 0)


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_count: int = 2,
    persist: bool = True,
) -> DataFrame:
    """Windowed exact-substring duplication detector — the distributed
    approximation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    length-``window`` token span is hashed; a span position is duplicated
    when its hash occurs >= ``min_count`` times across the corpus
    (within-document repeats count — boilerplate is duplication too).
    Returns one row per input document: (id, n_windows, n_dup_windows,
    dup_frac), docs shorter than ``window`` tokens included with zeros —
    filter on ``dup_frac`` to drop boilerplate-heavy documents.

    Scale shape: explode to (id, 8-byte window hash) — persisted (two
    passes read it: the global count and the flag join; 16 bytes/row,
    spillable; ``persist=False`` to trade memory for a recomputed fold)
    -> groupBy(hash) count, FILTERED to duplicated keys before the join
    (the right side shrinks to only boilerplate hashes, and AQE's
    skew-join splits the hot ones) -> left join -> per-doc agg. No
    string window is ever materialized."""
    w = df.select(
        F.col(id_col), F.explode(window_hashes(F.col(text_col), window)).alias("w")
    )
    if persist:
        w = w.persist()
    dup_keys = (
        w.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_count)
        .select("w", F.lit(1).alias("__dup"))
    )
    per_doc = (
        w.join(dup_keys, "w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count("__dup").cast("long").alias("n_dup_windows"),
        )
    )
    return (
        df.select(id_col)
        .distinct()
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce(
                F.round(F.col("n_dup_windows") / F.col("n_windows"), 6), F.lit(0.0)
            ).alias("dup_frac"),
        )
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 3,
) -> DataFrame:
    """WITHIN-document repetition statistics (the Gopher-style repetition
    quality filters): per doc, the total / distinct window counts, the
    repeated-window fraction, and the most-frequent window's share.
    High ``dup_window_frac`` or ``top_window_frac`` = looping/boilerplate
    text. Unlike :func:`duplicated_spans` (corpus-global) this needs no
    cross-document state: one explode + two doc-keyed aggregations —
    both shuffles carry (id, 8-byte hash) and partial-aggregate."""
    w = df.select(
        F.col(id_col), F.explode(window_hashes(F.col(text_col), window)).alias("w")
    )
    per_window = w.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("m"))
    stats = per_window.groupBy(id_col).agg(
        F.sum("m").alias("n_windows"),
        F.count(F.lit(1)).alias("n_distinct_windows"),
        F.max("m").alias("top_m"),
    )
    return (
        df.select(id_col)
        .distinct()
        .join(stats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_distinct_windows", F.lit(0)).alias("n_distinct_windows"),
            F.coalesce(
                F.round(
                    (F.col("n_windows") - F.col("n_distinct_windows"))
                    / F.col("n_windows"),
                    6,
                ),
                F.lit(0.0),
            ).alias("dup_window_frac"),
            F.coalesce(
                F.round(F.col("top_m") / F.col("n_windows"), 6), F.lit(0.0)
            ).alias("top_window_frac"),
        )
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 5,
    mode: str = "drop",
) -> DataFrame:
    """Benchmark decontamination (eval-overlap removal): drop — or flag,
    ``mode="flag"`` — every training document sharing ANY length-
    ``window`` token span with any benchmark document (the n-gram-overlap
    decontamination used for LLM training corpora).

    Plan: benchmark windows -> distinct hash set (tiny next to the
    corpus; Spark broadcasts it under AQE) -> semi-join against the
    exploded train windows -> distinct contaminated ids -> anti-join
    (or a left + flag). Train text never shuffles; the heavy side moves
    only (id, 8-byte hash)."""
    if mode not in ("drop", "flag"):
        raise ValueError(f"unknown mode {mode!r}; one of ['drop', 'flag']")
    bench_w = benchmark.select(
        F.explode(window_hashes(F.col(text_col), window)).alias("w")
    ).distinct()
    train_w = train.select(
        F.col(id_col), F.explode(window_hashes(F.col(text_col), window)).alias("w")
    )
    contaminated = train_w.join(bench_w, "w", "left_semi").select(id_col).distinct()
    if mode == "drop":
        return train.join(contaminated, id_col, "left_anti")
    return train.join(
        contaminated.withColumn("contaminated", F.lit(True)), id_col, "left"
    ).fillna(False, ["contaminated"])


def minhash_signatures_df(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig array<long>) via the shuffle-based classical plan:
    explode distinct shingle hashes -> num_perm permuted columns (all
    whole-stage-codegen row ops) -> groupBy(id) with num_perm mins
    (map-side combined, so the shuffle carries one num_perm-long row per id
    per partition). This beats the nested higher-order-function form ~20x:
    HOF lambdas evaluate interpreted and re-evaluate the shingle subtree
    per permutation.

    Docs with no shingles (blank/short) get an all-zero signature."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)  # small-file inputs: spread the map work
    hs = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(shingle_hashes(F.col(text_col), shingle_n)).alias("h"),
    )
    perms = hs.select(
        "id",
        *[
            ((F.col("h") * F.lit(a) + F.lit(b)) % _MERSENNE_P).alias(f"p{i}")
            for i, (a, b) in enumerate(_perm_params(num_perm))
        ],
    )
    sig = perms.groupBy("id").agg(
        *[F.coalesce(F.min(f"p{i}"), F.lit(0)).alias(f"m{i}") for i in range(num_perm)]
    )
    return sig.select("id", F.array(*[f"m{i}" for i in range(num_perm)]).alias("sig"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    n_bands: int = 4,
    shingle_n: int = 3,
    persist: bool = True,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >=1 LSH band.
    rows-per-band = num_perm/n_bands; similarity threshold ~ (1/b)^(1/r).

    ``persist`` caches the banded frame across the two sides of the
    self-join (without it the whole signature pipeline executes twice —
    measured 2x wall). The cache is released by Spark's ContextCleaner
    once the returned DataFrame is garbage-collected; long-lived sessions
    issuing many calls can pass persist=False or clear explicitly.

    ``hot_bucket_cap`` is the 100 TB skew guard: one degenerate bucket of
    width W (boilerplate, near-empty docs sharing a signature) emits W²/2
    pairs — AQE splits the *shuffle partition* but nothing bounds the
    *output*. With a cap, buckets wider than it emit a STAR instead of the
    clique: every member paired with the bucket's minimum id (W-1 rows,
    linear). Star and clique have identical connectivity, so every
    connected-components consumer (dup_groups / corpus_clean keeper
    selection) gets byte-identical groups; only the raw pair *listing*
    shrinks, which is why the default (None = exact clique) stays the gate
    contract. Width accounting shares the join's own (band, bucket) hash
    partitioning — one extra window pass over the persisted banded frame,
    no new shuffle shape."""
    assert num_perm % n_bands == 0
    r = num_perm // n_bands
    sigs = minhash_signatures_df(df, text_col, id_col, num_perm, shingle_n)
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.array_join(
                            F.transform(
                                F.slice(F.col("sig"), b * r + 1, r), lambda x: x.cast("string")
                            ),
                            "_",
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))
    if persist and hot_bucket_cap is None:
        # with the cap, `sized` below is the frame every consumer reads —
        # persisting banded too would cache two near-identical copies
        banded = banded.persist()
    if hot_bucket_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket")
        sized = banded.withColumn("bw", F.count(F.lit(1)).over(w))
        if persist:
            sized = sized.persist()
        banded = sized.where(F.col("bw") <= hot_bucket_cap).drop("bw")
        hot = sized.where(F.col("bw") > hot_bucket_cap).drop("bw")
        star_center = hot.groupBy("band", "bucket").agg(F.min("id").alias("id_a"))
        star = (
            hot.join(star_center, ["band", "bucket"])
            .where(F.col("id") > F.col("id_a"))
            .select("id_a", F.col("id").alias("id_b"))
        )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    )
    if hot_bucket_cap is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


_MIN_LONG = -9223372036854775808


def _token_hash64(tok: Column) -> Column:
    """64-bit token hash from two 32-bit md5 hex halves — fully native and
    engine-portable (the DuckDB oracle rebuilds the same value as
    (hi - 2^32 when hi >= 2^31) * 2^32 + lo, identical two's-complement)."""
    hi = F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(tok), 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash_df(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_name: str = "simhash",
    token_hash: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """64-bit SimHash per document, zero Python (replaces the round-1
    pandas_udf whose per-byte FNV loop would dominate a 100 TB scan):
    explode whitespace tokens -> native 64-bit token hash -> one groupBy(id)
    with 64 plain bit sums + a count (all whole-stage codegen, map-side
    combined: the shuffle carries 65 longs per (id, partition)) -> bit
    assembly via one zip_with/aggregate over a literal power array.

    Bit k is set iff ones(k) > zeros(k), i.e. 2*sum(bit_k) > n — plain sums
    beat conditional +/-1 sums ~25% and are equally DuckDB-replayable.
    Empty/blank/null docs hash to 0.

    ``token_hash`` defaults to the md5-derived hash (cross-engine
    verifiable — the driver's DuckDB oracle replays it); pass
    ``lambda c: F.xxhash64(c)`` for ~2x faster hashing when oracle parity
    is not needed (pure JVM xxhash vs md5 hex + conv)."""
    hash_fn = token_hash or _token_hash64
    # single tokenizer definition shared with shingles()/minhash: if the
    # split regex ever changes, every text-dedup family moves together
    toks = tokens(F.col(text_col))
    toks = F.when(F.trim(F.col(text_col)) == "", F.array().cast("array<string>")).otherwise(toks)
    exploded = df.select(
        F.col(id_col).alias("id"), F.explode_outer(toks).alias("tok")
    ).select("id", hash_fn(F.col("tok")).alias("h"))
    # null token rows (blank docs) contribute no bits: count(h)=0, sums null
    sums = exploded.groupBy("id").agg(
        F.count("h").alias("n"),
        *[
            F.sum(F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"s{i}")
            for i in range(64)
        ],
    )
    bits = F.array(*[(2 * F.col(f"s{i}") > F.col("n")).cast("long") for i in range(64)])
    # bit 63 is the sign bit: 1<<63 overflows signed 64, so its power is
    # min-long (two's complement identity)
    pows = F.array(
        *([F.shiftleft(F.lit(1).cast("long"), i) for i in range(63)] + [F.lit(_MIN_LONG)])
    )
    sim = F.aggregate(
        F.zip_with(bits, pows, lambda b, p: b * p),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # all-null group (blank doc): sums are null -> sim null -> 0
    return sums.select(F.col("id").alias(id_col), F.coalesce(sim, F.lit(0).cast("long")).alias(out_name))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.5,
    hash_tokens: bool = True,
    prefilter: str = "prefix",
) -> DataFrame:
    """Blocked pairwise token-set Jaccard: pairs within the same block with
    jaccard >= threshold. Native arrays; the block key is the scale lever
    (e.g. a domain/source/LSH bucket at 100 TB, never a cross join).

    With ``hash_tokens`` (default), tokens are hashed to 60-bit ints BEFORE
    the self-join: Jaccard over the hashed sets is value-identical (md5-60
    collisions are negligible and the DuckDB oracle replays the same hash),
    while the join shuffle carries 8-byte ints instead of full token
    strings (~4-8x fewer bytes both sides — the round-2 scale-weak
    finding). ``hash_tokens=False`` keeps the raw-string sets (exact even
    under adversarial collisions; measurably slower, see BENCH/STRESS.md).

    ``prefilter="prefix"`` (default) applies EXACT prefix filtering
    (PPJoin family, Bayardo et al. WWW'07 / Xiao et al.): with tokens
    under a global total order (the hash value / the string), any pair
    with J >= t shares at least one token in each side's first
    ``|s| - ceil(t*|s|) + 1`` tokens — because J >= t forces
    ``|x∩y| >= ceil(t*|x|)``, which cannot fit entirely in the remaining
    ``ceil(t*|x|) - 1`` suffix slots. Candidates come from an equi-join
    on (block, prefix_token) instead of the O(block²) self-join; the
    exact Jaccard verify then runs only on candidate pairs. Lossless by
    the theorem — same result set as ``prefilter="none"`` (pinned by
    tests and the unchanged DuckDB oracle), ~L/p² less verify work on
    blocks of L docs sharing few tokens."""
    # drop the '' token that split-on-empty produces: a whitespace-only doc
    # must have an EMPTY set (jaccard 0 with everything), not the singleton
    # {hash('')} that would pair every blank page as a perfect duplicate
    nonempty = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    toks = F.array_distinct(nonempty)
    if hash_tokens:
        toks = F.array_distinct(F.transform(nonempty, _md5_60))
    base = df.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("block"), toks.alias("toks")
    )
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    # the keep test uses the UNROUNDED jaccard (matching the DuckDB oracle
    # and the prefix theorem, which bounds TRUE jaccard); the output column
    # stays 6dp-rounded (the cross-engine value contract). Comparing the
    # rounded value would admit pairs with true J in [t - 5e-7, t) that the
    # prefix path is allowed to never generate.
    out_cols = (
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.round(jac, 6).alias("jaccard"),
    )
    if prefilter == "prefix" and threshold <= 0.0:
        # prefix length |s| - ceil(0) + 1 would be |s| + 1 and, worse, an
        # empty token set yields NO prefix row at all while J(empty, empty)
        # pairs are kept at t = 0 — the theorem needs t > 0, so fall back
        prefilter = "none"
    if prefilter == "none":
        a, b = base.alias("a"), base.alias("b")
        return (
            a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.id") < F.col("b.id")))
            .where(jac >= threshold)
            .select(*out_cols)
        )
    if prefilter != "prefix":
        raise ValueError(f"prefilter must be 'prefix' or 'none', got {prefilter!r}")
    # prefix length |s| - ceil(t*|s|) + 1 under the sorted-token order;
    # empty docs get an empty prefix (J(empty, y) = 0 < t for t > 0)
    srt = F.array_sort(F.col("toks"))
    plen = (F.size("toks") - F.ceil(F.lit(float(threshold)) * F.size("toks")) + 1).cast("int")
    pref = base.select(
        "id", "block", F.explode(F.slice(srt, 1, plen)).alias("ptok")
    )
    pa, pb = pref.alias("pa"), pref.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.block") == F.col("pb.block"))
            & (F.col("pa.ptok") == F.col("pb.ptok"))
            & (F.col("pa.id") < F.col("pb.id")),
        )
        .select(F.col("pa.id").alias("cid_a"), F.col("pb.id").alias("cid_b"))
        .distinct()
    )
    a = base.select(F.col("id").alias("cid_a"), F.col("toks").alias("toks_a"))
    b = base.select(F.col("id").alias("cid_b"), F.col("toks").alias("toks_b"))
    inter_c = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union_c = F.size("toks_a") + F.size("toks_b") - inter_c
    jac_c = F.when(union_c > 0, inter_c / union_c).otherwise(F.lit(0.0))
    return (
        cand.join(a, "cid_a")
        .join(b, "cid_b")
        .where(jac_c >= threshold)
        .select(
            F.col("cid_a").alias("id_a"),
            F.col("cid_b").alias("id_b"),
            F.round(jac_c, 6).alias("jaccard"),
        )
    )


def embedding_cosine_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
    n_tables: int = 8,
    persist: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold via OR-amplified
    random-hyperplane LSH.

    A single sign bucket of ``n_planes`` hyperplanes catches a true pair at
    angle theta only with probability p = (1 - theta/pi)^n_planes — at
    cosine 0.95 / n_planes=8 that is ~0.43, a real recall hole. So we run
    ``n_tables`` INDEPENDENT bucket tables (fresh planes per table) and OR
    the candidate sets: recall = 1 - (1 - p)^L. Defaults (8 planes x 8
    tables) give ~0.99 expected recall for cosine-0.95 pairs (pinned by a
    planted-pair test in tests/test_dedup.py).

    Plan shape: one projection computes all L buckets, explodes to
    (id, table, bucket) — the self-join shuffles ONLY those small keys,
    never the vectors; candidates are distinct'd, then vectors (and norms,
    computed on the spot) re-attach via two equi-joins for a single cosine
    refine per surviving pair. Bucket count 2^n_planes per table bounds the
    join fan-out; hot buckets are AQE-splittable. At 10^12 rows the
    tunables are n_planes (precision / bucket size) and n_tables (recall).

    Only the exploded (id, table, bucket) key frame is persisted (for the
    two sides of the self-join) — never the vectors, so the pinned memory
    is 3 ints per (row, table), not the embedding matrix. The cache is
    released by Spark's ContextCleaner once the returned plan is GC'd;
    callers issuing many calls in one long session can pass
    ``persist=False`` (the bucket projection then computes twice)."""
    if dim:
        d = int(dim)
    else:  # probe ONLY when not given — first() is a full upstream action
        first = (
            df.where(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)).alias("d"))
            .first()
        )
        if first is None:
            raise ValueError("cannot infer dim from an empty/all-null column; pass dim=")
        d = int(first["d"])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables * n_planes, d))

    from fairy_core_spark.operators.similarity import _dot, cosine_col

    def dot_expr(vec: Column, w: Sequence[float]) -> Column:
        return _dot(vec, F.array(*[F.lit(float(x)) for x in w]))

    buckets = []
    for t in range(n_tables):
        bucket = None
        for k in range(n_planes):
            bit = (dot_expr(F.col(vec_col), planes[t * n_planes + k]) > 0).cast("int")
            bucket = bit if bucket is None else bucket * 2 + bit
        buckets.append(bucket)
    banded = df.select(
        F.col(id_col).alias("id"), F.posexplode(F.array(*buckets)).alias("tbl", "bucket")
    )
    if persist:
        banded = banded.persist()
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    va = vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    # shared guarded kernel (operators/similarity.py): zero-norm vectors —
    # which collide in EVERY sign bucket by construction — score 0.0
    # instead of throwing ANSI DIVIDE_BY_ZERO
    cos = cosine_col(F.col("vec_a"), F.col("vec_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def phash_exact_dups(df: DataFrame, phash_col: str = "phash", id_col: str = "image_id") -> DataFrame:
    """Exact perceptual-hash duplicate groups (keep-first by id)."""
    return (
        df.groupBy(F.col(phash_col).alias("phash"))
        .agg(F.count(F.lit(1)).alias("n"), F.min(id_col).alias("keeper_id"))
        .where(F.col("n") > 1)
    )


def phash_near_dups(
    df: DataFrame,
    phash_col: str = "phash",
    id_col: str = "image_id",
    max_hamming: int = 3,
    bucket_cols: tuple[str, ...] = (),
) -> DataFrame:
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"max_hamming must be in [0, 3]: the fixed 4x16-bit banding only "
            f"guarantees a shared band for Hamming <= 3 (got {max_hamming}); "
            "widen the banding before raising the bound"
        )
    """Near-duplicate image pairs by phash Hamming <= k via 4x16-bit band
    self-join (pigeonhole guarantees recall for k <= 3) + exact popcount
    refine (native bit ops).

    ``bucket_cols``: optional extra equi-join keys restricting pairs to
    the same bucket (e.g. Web-Mercator tile columns for COLOCATED
    near-dups — "same scene re-uploaded nearby"). They ride the band
    buckets, so they tighten the candidate join (smaller buckets, less
    skew) rather than adding a shuffle; bucket values are emitted from
    side a (identical on both sides by construction)."""
    bands = []
    for b in range(4):
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col(phash_col), b * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"),
            )
        )
    banded = df.select(
        F.col(id_col).alias("id"),
        F.col(phash_col).alias("ph"),
        *[F.col(c) for c in bucket_cols],
        F.explode(F.array(*bands)).alias("bk"),
    ).select(
        "id", "ph", *bucket_cols,
        F.col("bk.band").alias("band"), F.col("bk.val").alias("val"),
    )
    a, b2 = banded.alias("a"), banded.alias("b")
    xor = F.col("a.ph").bitwiseXOR(F.col("b.ph"))
    ham = F.bit_count(xor)
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.val") == F.col("b.val"))
        & (F.col("a.id") < F.col("b.id"))
    )
    for c in bucket_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b2, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
            *[F.col(f"a.{c}").alias(c) for c in bucket_cols],
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def phash_geo_spread(
    df: DataFrame,
    phash_col: str = "phash",
    tile_col: str = "tile_key",
    min_group: int = 2,
) -> DataFrame:
    """Geographic spread of exact-phash duplicate groups — the classic
    geo-spam / misattribution signal for an image corpus: the SAME image
    honestly re-uploaded stays in one neighbourhood, while stock photos,
    watermark spam and coordinate-corrupted rows recur across distant
    tiles (north-rule image x geospatial composition; the reference has
    no image or spatial code — its dup rule is rulepack_runner.py's
    whole-row duplicate check, reused here as group-then-measure).

    Input: one row per image carrying a 64-bit perceptual hash
    (``phash_col``, the north input-hint column) and a single combined
    tile key (``tile_col`` — e.g. a quadkey string or
    ``tile_x * 2^zoom + tile_y`` long from webmercator.with_tiles). Per
    phash group with >= ``min_group`` members, emits

    - ``n_images``  group size,
    - ``n_tiles``   COUNT(DISTINCT tile) — how many places it appears,
    - ``is_spread`` 1 iff n_tiles >= 2 (integer-exact contract).

    Plan (the 100 TB story): ONE groupBy on the 8-byte phash with a
    distinct-count over the tile key — Spark plans count(DISTINCT) as a
    two-stage expand + partial agg, map-side combined on both stages, so
    the shuffle carries (phash, tile_key) pairs bounded by
    rows-per-distinct-tile, never bytes or captions. HAVING prunes
    singleton groups (the overwhelming majority) before anything else
    sees them. No join, no self-pairing, nothing quadratic in group
    size."""
    if min_group < 1:
        raise ValueError(f"min_group must be >= 1, got {min_group}")
    return (
        df.groupBy(F.col(phash_col).alias("phash"))
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.countDistinct(F.col(tile_col)).alias("n_tiles"),
        )
        .where(F.col("n_images") >= min_group)
        .select(
            "phash",
            "n_images",
            "n_tiles",
            (F.col("n_tiles") >= 2).cast("long").alias("is_spread"),
        )
    )


def phash_dup_keeper(
    df: DataFrame,
    phash_col: str = "phash",
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
    max_hamming: int = 3,
) -> DataFrame:
    """Disposition table for near-duplicate image groups — the step that
    turns pair detection into an actionable keep/drop list (the image
    twin of the reference's keep-first duplicate semantics,
    rulepack_runner.py:698-733, upgraded to quality-aware): within each
    Hamming<=k phash component, KEEP the highest-resolution copy
    (max ``w*h`` pixels, ties broken by min id — fully deterministic),
    DROP the rest.

    Output: one row per image that belongs to a near-dup group —
    ``(image_id, group_id, keeper_id, is_keeper)`` with ``group_id`` =
    min image id in the component (connected_components contract) and
    ``is_keeper`` an integer 0/1. Singletons are absent by design
    (left-join + coalesce to annotate a corpus); the drop list is
    ``is_keeper = 0``.

    Plan (the 100 TB story): pairs come from the 4x16-band pigeonhole
    self-join (nothing quadratic), components from min-label
    propagation (state = two ids per node), and the keeper pick is ONE
    row_number window over (group_id) plus a keeper-id window over the
    SAME partitioning — Spark plans the second window in the first's
    exchange, so the whole disposition costs one extra shuffle on
    group_id. Dimensions ride as two ints; pixels never shuffle."""
    from pyspark.sql import Window

    pairs = phash_near_dups(df, phash_col=phash_col, id_col=id_col, max_hamming=max_hamming)
    members = connected_components(pairs).withColumnRenamed("doc_id", id_col)
    ranked = members.join(
        df.select(id_col, (F.col(w_col) * F.col(h_col)).cast("long").alias("px")),
        id_col,
    )
    by_group = Window.partitionBy("group_id")
    order = by_group.orderBy(F.col("px").desc(), F.col(id_col).asc())
    return (
        ranked.withColumn("rk", F.row_number().over(order))
        .withColumn(
            "keeper_id",
            F.max(F.when(F.col("rk") == 1, F.col(id_col))).over(by_group),
        )
        .select(
            id_col,
            "group_id",
            "keeper_id",
            (F.col("rk") == 1).cast("long").alias("is_keeper"),
        )
    )


def phash_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    phash_col: str = "phash",
    id_col: str = "image_id",
) -> DataFrame:
    """Banded approximate top-k perceptual-hash search (reverse-image
    lookup): for each query image, the ``k`` nearest corpus images by
    phash Hamming distance AMONG the banded candidate set — images
    sharing at least one of the 4x16-bit bands, which pigeonhole-
    guarantees every corpus image within Hamming <= 3 is a candidate;
    beyond that recall follows the band-collision odds (the standard
    multi-index LSH search contract). Self-matches excluded; rank ties
    break on corpus id, so the top-k is deterministic. The queries share
    the corpus schema: both sides are read through ``id_col`` and
    ``phash_col``.

    Plan: band-explode both sides, the QUERY side broadcast (query sets
    are small by nature), equi-join on (band, val), dropDuplicates on
    the (query, corpus) pair, native popcount, ONE rank window on the
    query key (WindowGroupLimit partial top-k before the exchange). The
    corpus never shuffles more than (id, phash) pairs; candidate
    fan-out is bounded by band-bucket width, not corpus size.

    Output: (query_id, image_id, hamming, rk), rk in 1..k.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def _banded(df: DataFrame, out_id: str, out_ph: str) -> DataFrame:
        bands = [
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col(phash_col), b * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("val"),
            )
            for b in range(4)
        ]
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(phash_col).alias(out_ph),
            F.explode(F.array(*bands)).alias("bk"),
        ).select(out_id, out_ph, F.col("bk.band").alias("band"), F.col("bk.val").alias("val"))

    bq = _banded(queries, "qid", "qph")
    bc = _banded(corpus, "cid", "cph")
    cand = (
        bc.join(F.broadcast(bq), ["band", "val"])
        .where(F.col("qid") != F.col("cid"))
        .dropDuplicates(["qid", "cid"])
    )
    scored = cand.select(
        F.col("qid").alias("query_id"),
        F.col("cid").alias(id_col),
        F.bit_count(F.col("qph").bitwiseXOR(F.col("cph"))).cast("long").alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", id_col)
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
    )
