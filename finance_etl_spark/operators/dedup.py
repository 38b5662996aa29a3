"""Near-duplicate detection operators for LLM corpus curation.

Scale contract: NOTHING here does an all-pairs cross join. Candidate
pairs come either from an inverted index on (rare) shingles or from
MinHash-LSH band buckets; both shuffle on content-derived keys, so cost
is proportional to (pairs that actually collide), not |docs|^2. The
brute-force path exists only as the small-SF recall oracle in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# MinHash parameters: 64 permutations = 16 bands x 4 rows. With
# jaccard s, P[candidate] = 1 - (1 - s^4)^16 — s=0.5: 0.66, s=0.8: 0.9996.
N_PERM = 64
N_BANDS = 16
ROWS_PER_BAND = N_PERM // N_BANDS
_MERSENNE = (1 << 61) - 1
# Deterministic permutation coefficients (LCG-expanded, odd a).
_A = [(2 * i + 1) * 2654435761 % (1 << 31) | 1 for i in range(N_PERM)]
_B = [(i * 40503 + 2531011) % (1 << 31) for i in range(N_PERM)]


def shingle_array(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, sh_arr): the distinct word n-gram shingle ARRAY per
    document — a pure map-side pipeline (split -> filter -> indexed
    transform -> array_distinct), no shuffle at all. Per-doc
    distinctness via array_distinct is equivalent to a relational
    DISTINCT because shingles never cross documents."""
    base = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), " "), lambda t: t != "").alias("__toks"),
    )
    toks = F.col("__toks")
    n_tok = F.size(toks)
    idx = F.sequence(F.lit(0), n_tok - n)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.get(toks, i + j) for j in range(n)]
    )
    sh_arr = F.when(n_tok >= n, F.array_distinct(F.transform(idx, gram))).otherwise(
        F.array().cast("array<string>")
    )
    return base.select(F.col(id_col), sh_arr.alias("sh_arr"))


def _hashed_shingles(arr: DataFrame, id_col: str) -> DataFrame:
    """(id, __hs array<long>): per-doc shingle hashes — xxhash64 masked
    to 31 bits so a*h+b stays < 2^62 (no long overflow under ANSI
    mode, exact modular permutation). Hashes materialize once per
    document so every permutation shares them. Documents with zero
    shingles (shorter than the gram size) are dropped, matching the
    relational groupBy formulation — and keeping degenerate empty docs
    from all colliding into one LSH bucket."""
    return arr.filter(F.size("sh_arr") > 0).select(
        F.col(id_col),
        F.transform(
            "sh_arr", lambda s: F.xxhash64(s).bitwiseAND(F.lit((1 << 31) - 1))
        ).alias("__hs"),
    )


def minhash_signatures(arr: DataFrame, id_col: str) -> DataFrame:
    """(id, sig array<long>): 64-permutation MinHash signature,
    sig[i] = min over the doc's shingle hashes of (a_i*h + b_i) mod M.
    Map-side only — no explode, no groupBy, no shuffle: the signature
    stage is embarrassingly parallel at any corpus size.

    Formulation note (measured at sf0.1, warm): the permutation sweep
    runs as ONE Arrow-batched mapInPandas — the flattened hash array
    hits numpy as a (64 × Σ|shingles|) broadcasted multiply-add-mod
    and per-doc minima fall out of one ``minimum.reduceat`` — at 0.38s
    vs 0.97s for 64 array_min(transform(...)) passes and 1.9s for an
    aggregate+zip_with fold. Spark's higher-order-function lambdas
    evaluate INTERPRETED (outside whole-stage codegen), so the
    13M-element sweep pays per-element dispatch in the JVM but
    vectorizes in C via numpy; the shingle hash itself stays JVM-side
    xxhash64, so signatures are bit-identical to the pure-JVM
    formulation (pinned by tests/test_dedup_vectors.py).
    """
    import numpy as np
    import pandas as pd

    a_co = np.array(_A, dtype=np.int64)[:, None]
    b_co = np.array(_B, dtype=np.int64)[:, None]
    prime = np.int64(_MERSENNE)

    def compute(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            lists = pdf["__hs"]
            lens = np.fromiter(
                (len(x) for x in lists), dtype=np.int64, count=len(lists)
            )
            flat = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in lists]
            )
            perms = (a_co * flat[None, :] + b_co) % prime
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            mins = np.minimum.reduceat(perms, starts, axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "sig": list(mins.T)}
            )

    return _hashed_shingles(arr, id_col).mapInPandas(
        compute, f"{id_col} long, sig array<long>"
    )


def minhash_signatures_jvm(arr: DataFrame, id_col: str) -> DataFrame:
    """Pure-JVM reference formulation of ``minhash_signatures`` (64
    array_min passes over the shared hash array). Kept as the
    bit-identity oracle for the Arrow path and as the fallback where
    Python workers are unavailable."""

    def perm(i: int):
        a, b = F.lit(_A[i]), F.lit(_B[i])
        return lambda h: (h * a + b) % F.lit(_MERSENNE)

    sig = F.array(
        *[F.array_min(F.transform("__hs", perm(i))) for i in range(N_PERM)]
    )
    return _hashed_shingles(arr, id_col).select(F.col(id_col), sig.alias("sig"))


def lsh_candidate_pairs(sigs: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b, n_matching_bands): pairs sharing >=1 LSH band.

    Bands explode to (band_id, band_hash, id); a self-join on the
    bucket key yields candidates. The shuffle key is (band_id,
    band_hash) — collisions, not documents, drive the cost.
    """
    bands = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    # xxhash64 over the band's signature slice: a JVM
                    # primitive hash of longs — no hex-string round trip
                    F.xxhash64(
                        *[
                            F.col("sig")[i]
                            for i in range(
                                b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND
                            )
                        ]
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band_id", "band_hash"),
    )
    a = bands.select(
        F.col(id_col).alias("id_a"), "band_id", "band_hash"
    )
    b = bands.select(
        F.col(id_col).alias("id_b"), "band_id", "band_hash"
    )
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_matching_bands"))
    )


def exact_jaccard(
    sh: DataFrame,
    pairs: DataFrame,
    id_col: str,
    arr: DataFrame | None = None,
    prune: bool = True,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard.

    Work is proportional to Σ|shingles(a)| over candidate pairs: the
    pair list drives the join (pairs ⋈ shingles(a) ⋈ shingles(b) on
    (id_b, shingle)) — never shingle ⋈ shingle first, which would blow
    up quadratically on hot shingles.

    Scale pruning (``prune=True``): only documents that appear in some
    candidate pair ship their shingles into the verify joins (semi
    join against the candidate-id set). At corpus scale candidates ≪
    documents, so this turns "shuffle every shingle twice" into
    "shuffle the candidates' shingles" — the dominant verify-stage
    term. The pruning costs pipeline overlap (the verify shuffles must
    wait for the candidate ids), so callers disable it when candidates
    cover most of the corpus — minhash_lsh_dedup_pairs decides from
    the measured counts, AQE-style. When ``arr`` (the per-doc shingle
    ARRAY) is supplied, set sizes come from ``F.size`` map-side
    instead of an explode+groupBy over the whole corpus."""
    if prune:
        cand_ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .unionByName(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        sh = sh.join(cand_ids, id_col, "left_semi")
    if arr is not None:
        sizes = arr.select(F.col(id_col), F.size("sh_arr").alias("n_sh"))
    else:
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        pairs.select("id_a", "id_b")
        .join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_common",
            (
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end fuzzy-dedup pair detection: shingle -> MinHash ->
    LSH bucket join -> exact-Jaccard verify -> threshold.

    The per-doc shingle array feeds three consumers (signatures, sizes,
    verification); it is persisted so the tokenize+gram lineage runs
    once instead of three times — at cluster scale use
    ``StorageLevel.MEMORY_AND_DISK`` semantics (the default), which
    spills instead of recomputing."""
    arr = shingle_array(df, id_col, text_col, n).persist()
    sh = arr.select(F.col(id_col), F.explode("sh_arr").alias("shingle"))
    sigs = minhash_signatures(arr, id_col).persist()
    # ONE materializing action fills BOTH caches: the signature job's
    # lineage passes through arr, so computing sigs caches arr as a
    # side effect (a single sequential action cannot race the cold
    # cache — the race the barriers guard against only appears when
    # two downstream stages fan out in the same job). The doc count
    # then reads the warm arr cache. Round-15 (optimization): this
    # replaces a separate arr.count() corpus job that tokenized the
    # corpus once just to count it before the signature job ran —
    # one fewer full pass per invocation (guide §1.2: remove passes
    # before tuning inside them). Load-gated alternating A/B at
    # sf0.1: restructured pipeline reached 2.33 s end-to-end where
    # production's best across ~20 reps in 4 sessions was 3.40 s;
    # rows identical.
    sigs.count()
    n_docs = arr.count()  # warm-cache scan, O(partitions) overhead
    cands = lsh_candidate_pairs(sigs, id_col).persist()
    # AQE-style runtime decision: pruning the verify joins to the
    # candidate documents wins when candidates cover a minority of the
    # corpus (the 100-TB case), but costs pipeline overlap when most
    # documents collide anyway (dense small corpora). The count also
    # materializes the cands cache before its consumers fan out; the
    # candidate-doc count is bounded by 2×pairs, so pairs×4 < docs
    # guarantees coverage below half without a distinct job.
    n_pairs = cands.count()
    verified = exact_jaccard(
        sh, cands, id_col, arr=arr, prune=(n_pairs * 4 < n_docs)
    )
    return verified.filter(F.col("jaccard") >= threshold)


def edit1_candidate_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Edit-distance-≤1 fuzzy self-join WITHOUT a cross product, by
    deletion-neighborhood blocking: two strings within one edit
    (substitution, insertion, or deletion) always share at least one
    member of {s} ∪ {s with one char deleted}, so emitting those
    |s|+1 variants as join keys and equi-joining on the variant finds
    every candidate in time linear in Σ|s| (vs the O(n²) quadratic
    all-pairs). Candidates are then verified with the exact JVM
    levenshtein — cheap, since only same-variant collisions survive.

    Variants are built map-side with sequence+transform (no Python);
    the self-join shuffles on the variant string, and bucket sizes are
    bounded by how many strings share a deletion — the skew profile of
    near-duplicate data itself.
    """
    variants = df.select(
        F.col(id_col),
        F.col(text_col),
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col(text_col)),
                    F.transform(
                        F.sequence(F.lit(1), F.length(text_col)),
                        lambda i: F.concat(
                            F.substring(F.col(text_col), F.lit(1), i - 1),
                            F.col(text_col).substr(
                                i + 1, F.length(text_col)
                            ),
                        ),
                    ),
                )
            )
        ).alias("variant"),
    )
    a = variants.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("name_a"), "variant"
    )
    b = variants.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("name_b"), "variant"
    )
    cand = (
        a.join(b, "variant")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "name_a", "name_b")
        .distinct()
    )
    return cand.withColumn(
        "distance", F.levenshtein("name_a", "name_b")
    ).filter(F.col("distance") <= 1)


def ngram_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    df_cap: int = 50,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of the exact inverted-index near-dup searches:
    returns ``(sizes, common)`` where sizes = (id, n_sh) per doc
    (map-side, from the shingle ARRAY — no explode+groupBy) and
    common = (id_a, id_b, n_common) pair intersection counts from a
    df-capped inverted index.

    Index and self-join key on ``xxhash64(shingle)`` — an 8-byte long
    instead of the shingle string, halving shuffle width and making
    the pair-count agg integer-keyed (64-bit collisions are ~1e-11
    at billion-shingle vocabularies; callers needing certified-exact
    counts can re-verify survivors on strings). The exploded hashed
    relation feeds three consumers (df filter, index, self-join); it
    re-explodes the persisted shingle ARRAY per consumer, which
    measured faster at sf0.1 than persisting the exploded rows too.

    Formulation note (measured at sf0.1): the hash is applied AFTER the
    explode, as a plain row projection — whole-stage-codegen'd xxhash64
    at ~ns/row. Hashing inside the higher-order gram lambda instead
    (xxhash64 per token + per gram) evaluates interpreted: higher-order
    lambdas do not codegen, and that shape measured ~14 ms per document
    against ~2.7 ms for this one."""
    # The ARRAY relation is the persisted root: sizes (map-side), the
    # exploded index, AND the downstream size joins all re-derive from
    # the cache instead of re-running tokenize+gram per consumer
    # (sizes feeds two join branches — uncached that is two more full
    # passes; measured ~2x end-to-end at sf0.1).
    arr = shingle_array(df, id_col, text_col, n).persist()
    sizes = arr.select(
        F.col(id_col), F.size("sh_arr").alias("n_sh")
    ).filter(F.col("n_sh") > 0)
    sh = (
        arr.select(F.col(id_col), F.explode("sh_arr").alias("shingle"))
        .select(F.col(id_col), F.xxhash64("shingle").alias("h"))
    )
    rare = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_cap)
    )
    idx = sh.join(rare.select("h"), "h", "left_semi")
    a = idx.select(F.col(id_col).alias("id_a"), "h")
    b = idx.select(F.col(id_col).alias("id_b"), "h")
    common = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return sizes, common
