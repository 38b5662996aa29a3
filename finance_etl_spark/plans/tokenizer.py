"""BPE tokenizer TRAINING on the corpus: the iterative merge loop that
turns `text_bpe_pair_counts` (one round's statistics) into an actual
merge table — the artifact an LLM data pipeline ships to tokenization.

Scale contract: the corpus text is read ONCE (token-frequency
aggregation). Every training round after that runs on the DISTINCT
vocabulary weighted by frequency — |vocab| rows, not corpus rows — so
k merge rounds cost k vocabulary-sized jobs plus one 1-row argmax
collect each (driver-side scalar, same class as the tf-idf corpus
count). The per-round merge rewrite is a map-side higher-order-function
fold; lineage is truncated every round with localCheckpoint so the plan
stays O(1) deep.

Hash-oracled since round 8: the merge count is FIXED (8), so the
data-dependent training loop unrolls into 8 MATERIALIZED CTE rounds in
DuckDB (the fin_irr_per_order recipe) — each round recomputes pair
counts, picks the argmax rule with the same (count DESC, left, right)
tie-break, and rewrites symbols via the gaps-and-islands closed form
of the greedy overlap rule (within a run of consecutive match
positions only alternate ones merge — exactly the left-fold's
semantics, since a just-merged symbol can never re-match as `left`).
tests/test_tokenizer.py additionally pins the merge table against an
independent pure-Python BPE reference (shared-fragment-blindness
guard), and checks determinism under repartitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finance_etl_spark.io.readers import load_table
from finance_etl_spark.operators.iterate import iterate, release
from finance_etl_spark.plans.registry import register

TOKEN_PATTERN = "[a-z0-9']+"
_TOKEN_SQL = "[a-z0-9'']+"  # same pattern, SQL-escaped quote
# DuckDB word frequencies of the corpus, the oracles' wf relation
_WORD_FREQ_SQL = f"""
    SELECT u.word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM documents,
         unnest(regexp_extract_all(lower(text), '{_TOKEN_SQL}', 0)) u(word)
    GROUP BY u.word
"""


def _bpe_rounds_sql(n_merges: int) -> str:
    """Unrolled-CTE DuckDB replay of the BPE training loop: wf +
    state_0, then per round k the pair counts (pc_k), the argmax rule
    (best_k, tie-break count DESC then lexicographic — identical to
    train_bpe), the accepted merge positions (acc_k: gaps-and-islands
    parity = the greedy left-fold's overlap rule), and the rewritten
    state_{k+1}. Everything is MATERIALIZED — DuckDB re-inlines
    multiply-referenced CTEs otherwise (oracle-determinism rule #9)."""
    parts = [
        f"""
        wf AS MATERIALIZED ({_WORD_FREQ_SQL}),
        state_0 AS MATERIALIZED (
            SELECT word, freq,
                   filter(string_split(word, ''), c -> c <> '') AS symbols
            FROM wf
        )"""
    ]
    for k in range(n_merges):
        parts.append(f"""
        pos_{k} AS MATERIALIZED (
            SELECT word, freq, i, symbols[i] AS s, symbols[i+1] AS nxt
            FROM (SELECT word, freq, symbols,
                         generate_subscripts(symbols, 1) AS i
                  FROM state_{k})
        ),
        pc_{k} AS MATERIALIZED (
            SELECT s AS l, nxt AS r, CAST(SUM(freq) AS BIGINT) AS n
            FROM pos_{k} WHERE nxt IS NOT NULL GROUP BY 1, 2
        ),
        best_{k} AS MATERIALIZED (
            SELECT l, r, n FROM pc_{k} ORDER BY n DESC, l, r LIMIT 1
        ),
        acc_{k} AS MATERIALIZED (
            SELECT word, i FROM (
                SELECT word, i,
                       ROW_NUMBER() OVER (PARTITION BY word, i - rn
                                          ORDER BY i) AS island_pos
                FROM (
                    SELECT p.word, p.i,
                           ROW_NUMBER() OVER (PARTITION BY p.word
                                              ORDER BY p.i) AS rn
                    FROM pos_{k} p CROSS JOIN best_{k} b
                    WHERE p.s = b.l AND p.nxt = b.r
                )
            ) WHERE island_pos % 2 = 1
        ),
        state_{k + 1} AS MATERIALIZED (
            SELECT word, freq, list(sym ORDER BY i) AS symbols FROM (
                SELECT p.word, p.freq, p.i,
                       CASE WHEN a.i IS NOT NULL THEN p.s || p.nxt
                            ELSE p.s END AS sym
                FROM pos_{k} p
                LEFT JOIN acc_{k} a ON a.word = p.word AND a.i = p.i
                LEFT JOIN acc_{k} c ON c.word = p.word AND c.i = p.i - 1
                WHERE c.i IS NULL
            ) GROUP BY word, freq
        )""")
    return "WITH " + ",".join(parts)


def _bpe_train_oracle(n_merges: int = 8) -> str:
    unions = " UNION ALL ".join(
        f'SELECT {k + 1} AS rank, l AS "left", r AS "right",'
        f" l || r AS merged, n AS n_occurrences FROM best_{k}"
        for k in range(n_merges)
    )
    return (
        _bpe_rounds_sql(n_merges)
        + ' SELECT CAST(rank AS INT) AS rank, "left", "right", merged,'
        " CAST(n_occurrences AS BIGINT) AS n_occurrences"
        f" FROM ({unions}) ORDER BY rank"
    )


def _bpe_encode_oracle(n_merges: int = 8) -> str:
    return (
        _bpe_rounds_sql(n_merges)
        + f"""
        SELECT sym AS subword, CAST(SUM(freq) AS BIGINT) AS n_occurrences
        FROM (SELECT freq, unnest(symbols) AS sym FROM state_{n_merges})
        GROUP BY sym
        ORDER BY n_occurrences DESC, subword
        LIMIT 20"""
    )


def word_frequencies(d: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq): lowercase word frequencies — the single corpus
    pass. Everything downstream is vocabulary-sized."""
    toks = F.explode(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), 0)
    ).alias("word")
    return d.select(toks).groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def _adjacent_pairs(symbols):
    """array<struct<left,right>> of adjacent symbol pairs (empty for
    single-symbol words — guarded so sequence() never runs descending)."""
    n = F.size(symbols)
    pair_arr = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.struct(
            F.get(symbols, i).alias("left"), F.get(symbols, i + 1).alias("right")
        ),
    )
    empty = F.array().cast("array<struct<left:string,right:string>>")
    return F.when(n >= 2, pair_arr).otherwise(empty)


def _merge_pair(symbols, left: str, right: str):
    """Greedy left-to-right merge of (left,right) -> left||right inside
    one word's symbol array, as a single aggregate() fold: append each
    symbol, except when the accumulator's last element is `left` and
    the incoming symbol is `right` — then replace the last element with
    the merged symbol. Because a just-merged element no longer equals
    `left`, overlapping runs ("aaa" under the ("a","a") rule) resolve
    exactly like the canonical greedy scan."""
    lit_l, lit_r = F.lit(left), F.lit(right)
    merged = F.lit(left + right)
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == lit_l)
            & (s == lit_r),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def train_bpe(vocab: DataFrame, n_merges: int = 8) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merge rules from a (word, freq) relation.
    Returns [(left, right, pair_count), ...] in learned order.

    Tie-break is DETERMINISTIC: highest weighted count, then
    lexicographically smallest (left, right) — pinned so training is
    reproducible across partitionings and engines."""
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != "")
    rules: list[tuple[str, str, int]] = []

    def merge_best(state: DataFrame, _: int) -> DataFrame:
        best = (
            state.select("freq", F.explode(_adjacent_pairs(F.col("symbols"))).alias("p"))
            .groupBy("p.left", "p.right")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), "left", "right")
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] is None:
            return state
        left, right, n = best[0]["left"], best[0]["right"], int(best[0]["n"])
        rules.append((left, right, n))
        return state.select(
            "freq", _merge_pair(F.col("symbols"), left, right).alias("symbols")
        )

    init = vocab.select(F.col("freq"), chars.alias("symbols"))
    release(iterate(init, merge_best, n_merges))
    return rules


@register(
    "text_bpe_train_merges",
    tags=("text", "tokenizer", "iterative"),
    oracle=_bpe_train_oracle(8),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE training over the documents corpus: 8 learned merge
    rules with their weighted pair counts, in training order."""
    d = load_table(spark, sf_dir, "documents")
    rules = train_bpe(word_frequencies(d), n_merges=8)
    return spark.createDataFrame(
        [(i + 1, l, r, l + r, n) for i, (l, r, n) in enumerate(rules)],
        "rank int, left string, right string, merged string, n_occurrences bigint",
    )


def apply_bpe(
    vocab: DataFrame, rules: list[tuple[str, str, int]]
) -> DataFrame:
    """(word, freq, symbols): encode every word by replaying the merge
    rules IN TRAINING ORDER (the BPE encode contract — not best-match)
    over the distinct vocabulary. Each rule is one map-side fold over
    |vocab| rows; lineage is checkpointed every 8 rules so the plan
    depth stays bounded at large rule counts."""
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != "")

    def merge(state: DataFrame, i: int) -> DataFrame:
        left, right, _n = rules[i]
        return state.select(
            "word", "freq", _merge_pair(F.col("symbols"), left, right).alias("symbols")
        )

    init = vocab.select("word", "freq", chars.alias("symbols"))
    return iterate(init, merge, len(rules), checkpoint_every=8)


@register(
    "text_bpe_encode",
    tags=("text", "tokenizer", "iterative"),
    oracle=_bpe_encode_oracle(8),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end tokenizer: train 8 BPE merges on the corpus, then
    ENCODE the corpus with them and report the top-20 subword tokens
    by corpus frequency — the vocabulary histogram a tokenizer ships
    with. Encoding runs on the distinct-word table weighted by
    frequency (corpus text read once, both for training and coverage
    stats); tests/test_tokenizer.py pins the encoding against the
    pure-Python reference."""
    d = load_table(spark, sf_dir, "documents")
    wf = word_frequencies(d)
    rules = train_bpe(wf, n_merges=8)
    enc = apply_bpe(wf, rules)
    out = (
        enc.select("freq", F.explode("symbols").alias("subword"))
        .groupBy("subword")
        .agg(F.sum("freq").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "subword")
        .limit(20)
    )
    return out


def wordpiece_encode_word(word: str, vocab: frozenset) -> list:
    """Greedy longest-match-first WordPiece encoding of one word
    (continuation pieces carry the ## prefix; unmatchable characters
    emit [UNK] and resync). Pure Python, deterministic; shared by the
    operator and the pytest reference."""
    pieces, i, first = [], 0, True
    while i < len(word):
        j = len(word)
        matched = None
        while j > i:
            cand = word[i:j] if first else "##" + word[i:j]
            if cand in vocab:
                matched = cand
                break
            j -= 1
        if matched is None:
            pieces.append("[UNK]")
            i += 1
        else:
            pieces.append(matched)
            i = j
        first = False
    return pieces


# WordPiece's greedy longest-match-first walk is SQL-expressible after
# all: the best match at every (word, position, firstness) is a plain
# join + window over the bounded-size vocab (no recursion), and the
# walk itself is then a PATH-FOLLOWING recursive CTE — each step only
# left-joins the precomputed lookup and advances by the matched length
# (no aggregate/window in the recursive term, which DuckDB forbids).
_WP_ORACLE = f"""
WITH RECURSIVE wf AS MATERIALIZED ({_WORD_FREQ_SQL}),
top_words AS MATERIALIZED (
    SELECT word FROM wf ORDER BY freq DESC, word LIMIT 20
),
chars AS MATERIALIZED (
    SELECT DISTINCT c FROM (
        SELECT unnest(filter(string_split(word, ''), c -> c <> '')) AS c
        FROM wf
    )
),
vocab AS MATERIALIZED (
    SELECT DISTINCT piece, base, cont, len(base) AS l FROM (
        SELECT word AS piece, word AS base, FALSE AS cont FROM top_words
        UNION ALL
        SELECT c, c, FALSE FROM chars
        UNION ALL
        SELECT '##' || c, c, TRUE FROM chars
    )
),
positions AS MATERIALIZED (
    SELECT word, generate_subscripts(
        filter(string_split(word, ''), c -> c <> ''), 1) AS i
    FROM wf
),
best AS MATERIALIZED (
    SELECT word, i, cont, piece, l FROM (
        SELECT p.word, p.i, v.cont, v.piece, v.l,
               ROW_NUMBER() OVER (PARTITION BY p.word, p.i, v.cont
                                  ORDER BY v.l DESC) AS rn
        FROM positions p JOIN vocab v ON substr(p.word, p.i, v.l) = v.base
    ) WHERE rn = 1
),
rec AS (
    SELECT word, freq, 1 AS i, 1 AS step, CAST(NULL AS STRING) AS piece
    FROM wf
    UNION ALL
    SELECT r.word, r.freq, r.i + coalesce(b.l, 1), r.step + 1,
           coalesce(b.piece, '[UNK]')
    FROM rec r
    LEFT JOIN best b ON b.word = r.word AND b.i = r.i
                    AND b.cont = (r.step > 1)
    WHERE r.i <= len(r.word)
)
SELECT piece, CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
       CAST(SUM(freq) AS BIGINT) AS total_occurrences
FROM rec WHERE piece IS NOT NULL
GROUP BY piece
ORDER BY total_occurrences DESC, piece
LIMIT 30
"""


@register(
    "text_wordpiece_encode",
    tags=("text", "tokenizer", "udf"),
    oracle=_WP_ORACLE,
)
def text_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece encoding of the corpus under a deterministic vocab
    (top-20 words as whole pieces + every observed character as both
    initial and ## continuation piece): per-piece usage statistics,
    the 'how will my tokenizer slice this corpus' report. The encode
    runs over the DISTINCT word list weighted by corpus frequency —
    the same vocabulary-sized trick as BPE training, so the corpus
    text is read once and the Python work is |vocab|-bounded. The
    greedy longest-match loop is inherently per-word sequential →
    Arrow-batched mapInPandas; the vocab is a broadcast-closure
    frozenset built from two vocabulary-sized collects. Hash-oracled
    via a precomputed longest-match lookup + path-following recursive
    CTE (all integer/string — no float anywhere);
    tests/test_round4_ops.py additionally pins the piece table against
    a driver-side pure-Python encode of the same word-frequency
    list."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    wf = word_frequencies(d)
    top_words = [
        r["word"]
        for r in wf.orderBy(F.col("freq").desc(), "word").limit(20).collect()
    ]
    chars = [
        r["c"]
        for r in wf.select(
            F.explode(F.split("word", "")).alias("c")
        )
        .filter(F.col("c") != "")
        .distinct()
        .collect()
    ]
    vocab = frozenset(
        set(top_words) | set(chars) | {"##" + c for c in chars}
    )

    def encode(batches):
        for pdf in batches:
            words, pieces, freqs = [], [], []
            for w, f in zip(pdf["word"], pdf["freq"]):
                for p in wordpiece_encode_word(w, vocab):
                    words.append(w)
                    pieces.append(p)
                    freqs.append(f)
            yield pd.DataFrame(
                {"word": words, "piece": pieces, "freq": freqs}
            )

    exploded = wf.mapInPandas(encode, "word string, piece string, freq long")
    return (
        exploded.groupBy("piece")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.sum("freq").alias("total_occurrences"),
        )
        .orderBy(F.col("total_occurrences").desc(), "piece")
        .limit(30)
    )


# the path-following CTE ends with the rec block; the splice adds its comma
_FERT_ORACLE = _WP_ORACLE[: _WP_ORACLE.index("SELECT piece,")].rstrip() + """,
ppw AS (
    SELECT word, CAST(COUNT(piece) AS BIGINT) AS n_pieces
    FROM rec WHERE piece IS NOT NULL GROUP BY word
),
src AS (
    SELECT source, u.word, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents,
         unnest(regexp_extract_all(lower(text), '""" + _TOKEN_SQL + """', 0)) u(word)
    GROUP BY source, u.word
)
SELECT s.source,
       CAST(SUM(s.n) AS BIGINT) AS n_words,
       CAST(SUM(s.n * p.n_pieces) AS BIGINT) AS n_pieces,
       CAST(SUM(s.n * p.n_pieces) AS DOUBLE) / CAST(SUM(s.n) AS DOUBLE)
           AS fertility
FROM src s JOIN ppw p ON p.word = s.word
GROUP BY s.source ORDER BY s.source
"""


@register(
    "text_tokenizer_fertility",
    tags=("text", "tokenizer"),
    oracle=_FERT_ORACLE,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per corpus source — pieces emitted per word,
    the metric tokenizer teams track per language/domain to catch
    under-served segments (fertility ≫ 1 means the vocab fragments
    that source's text, inflating sequence lengths and training cost).
    Reuses the WordPiece machinery: encode the DISTINCT word list once
    (vocabulary-sized Python), then join the per-word piece counts
    back to per-(source, word) frequencies — the corpus text itself is
    scanned once for the frequency table and once for the source map;
    no per-document Python. PROMOTED to a hash oracle in round 9:
    the oracle replays the greedy longest-match as the same
    precomputed-lookup recursive CTE as text_wordpiece_encode, counts
    pieces per word, and joins the per-source frequencies — all
    integer/string, one double division at the edge."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    wf = word_frequencies(d)
    top_words = [
        r["word"]
        for r in wf.orderBy(F.col("freq").desc(), "word").limit(20).collect()
    ]
    chars = [
        r["c"]
        for r in wf.select(F.explode(F.split("word", "")).alias("c"))
        .filter(F.col("c") != "")
        .distinct()
        .collect()
    ]
    vocab = frozenset(set(top_words) | set(chars) | {"##" + c for c in chars})

    def encode_counts(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "n_pieces": [
                        len(wordpiece_encode_word(w, vocab))
                        for w in pdf["word"]
                    ],
                }
            )

    pieces_per_word = wf.select("word").mapInPandas(
        encode_counts, "word string, n_pieces int"
    )
    src_words = (
        d.select(
            "source",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(TOKEN_PATTERN), 0
                )
            ).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        src_words.join(pieces_per_word, "word")
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_words"),
            F.sum(F.col("n") * F.col("n_pieces")).alias("n_pieces"),
            (
                F.sum(F.col("n") * F.col("n_pieces")).cast("double")
                / F.sum("n").cast("double")
            ).alias("fertility"),
        )
        .orderBy("source")
    )
