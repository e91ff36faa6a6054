"""Distributed BPE merge learning — the pair-count/merge loop at the heart
of tokenizer training, run as synchronous Spark rounds.

Byte-pair-encoding training is the canonical "iterative counting over the
whole corpus" job a training-data platform runs before any model sees a
token: repeatedly find the most frequent adjacent symbol pair and fuse it
into a new vocabulary symbol.  Each round here is ordinary DataFrame work
(split → zip_with pair explode → two-phase count → TakeOrdered 1), so
Catalyst/AQE optimize every superstep, exactly like the engine's other
iterative frames (PageRank, BFS, k-means).

Symbol representation — the key design choice: a word's symbol sequence is
ONE STRING with every symbol individually bracketed in control-char
delimiters: ``\\x01h\\x02\\x01e\\x02…`` for ``"he…"``.  Merging pair
(a, b) is then a literal ``replace(sym, \\x01a\\x02\\x01b\\x02,
\\x01ab\\x02)``, and the brackets buy two guarantees a bare-separator
encoding cannot give:

* **whole-symbol matches only** — a pattern starts with ``\\x01`` and
  ends with ``\\x02`` around *complete* symbols, so once multi-char
  symbols exist it can never alias across a boundary (with a two-space
  separator, pair (o,x) would match inside ``"lo  x"`` and fuse parts of
  *different* symbols — the round-3 ADVICE finding);
* **greedy left-to-right semantics** — adjacent occurrences share no
  characters (match k ends at its own ``\\x02``; match k+1 starts at the
  next ``\\x01``), so single-pass non-overlapping ``replace`` — in both
  Spark and DuckDB — performs exactly the reference greedy scan:
  ``a a a a a`` → ``(aa)(aa)a``, leftmost occurrence first, resume after.

Both engines therefore perform the IDENTICAL merge, which is what lets an
iterative tokenizer-training step carry a hash-exact SQL oracle (the
DuckDB twin unrolls the same K rounds as chained CTEs).  The delimiters
are control chars absent from any real text corpus; a document that did
contain them would still be encoded identically by both twins.

Scale shape: the corpus is exploded and grouped ONCE into a small
``(sym, freq)`` table of distinct words (the Sennrich et al. 2016 /
HF-tokenizers shape); every round is a frequency-weighted pair count over
that table, one TakeOrdered-1 whose single winning row reaches the
driver, and a map-only replace re-checkpointed so lineage stays one round
deep.  Per-round work follows the word vocabulary, not the corpus size.

No reference counterpart (ingest-only engine); net-new per SURVEY §2.2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

#: Number of merge rounds (fixed — both engines run the identical
#: computation; real tokenizers run tens of thousands of rounds of this
#: exact shape).
BPE_MERGES = 4

#: Per-symbol bracket delimiters (see module docstring).
BPE_OPEN = "\x01"
BPE_CLOSE = "\x02"


def _pairs_of(df: DataFrame) -> DataFrame:
    """Adjacent symbol pairs of every distinct word, with its ``freq``.

    ``substr`` strips the outer brackets, then splitting on the
    ``\\x02\\x01`` inter-symbol seam yields the clean symbol list."""
    return (
        df.select(
            F.split(
                F.expr("substr(sym, 2, length(sym) - 2)"),
                BPE_CLOSE + BPE_OPEN,
            ).alias("l"),
            "freq",
        )
        .where(F.size("l") >= 2)
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(l, 1, size(l) - 1),"
                    " slice(l, 2, size(l) - 1),"
                    " (x, y) -> struct(x AS a, y AS b))"
                )
            ).alias("p"),
            "freq",
        )
        .select("p.a", "p.b", "freq")
    )


def _bracketed(a: str, b: str | None = None) -> str:
    out = BPE_OPEN + a + BPE_CLOSE
    if b is not None:
        out += BPE_OPEN + b + BPE_CLOSE
    return out


def _learn(spark: SparkSession, sf_dir: str):
    """Run the {BPE_MERGES} merge rounds over the distinct-word table;
    returns (rules, final ``(sym, freq)`` table), shared by q_bpe_merges
    and q_bpe_apply.

    A word's pairs count once per occurrence, so the pair count is
    ``sum(freq)`` over the pairs of each distinct word — the same numbers
    the brute-force unrolled-CTE oracle counts over every occurrence."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.expr(
                "array_join(transform(sequence(1, length(w)),"
                f" i -> '{BPE_OPEN}' || substr(w, i, 1) || '{BPE_CLOSE}'),"
                " '')"
            ).alias("sym"),
            "freq",
        )
        .localCheckpoint()
    )
    rules: list[tuple[int, str, str, int]] = []
    for r in range(1, BPE_MERGES + 1):
        top = (
            _pairs_of(words)
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()  # exactly ONE row per round — the merge rule
        )
        if not top:
            break
        a, b, cnt = top[0].a, top[0].b, int(top[0].cnt)
        rules.append((r, a, b, cnt))
        pat, rep = _bracketed(a, b), _bracketed(a + b)
        words = words.select(
            F.replace(F.col("sym"), F.lit(pat), F.lit(rep)).alias("sym"), "freq"
        ).localCheckpoint()
    return rules, words


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_bpe_merges: the first {BPE_MERGES} BPE merge rules learned from
    the corpus — ``(merge_idx, left_sym, right_sym, pair_count)``, where
    pair_count is the exact corpus-wide frequency that won the round
    (ties broken lexicographically so the winner is deterministic)."""
    rules, _ = _learn(spark, sf_dir)
    return spark.createDataFrame(
        rules, "merge_idx int, left_sym string, right_sym string, pair_count long"
    )


#: Vocabulary-head size reported by q_bpe_apply.
BPE_VOCAB_TOP = 20


def bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_bpe_apply: tokenize the corpus with the learned merges and
    report the vocabulary head — the top-{BPE_VOCAB_TOP} symbols by
    occurrence count after all {BPE_MERGES} merges, with each symbol's
    length (>1 ⇔ a merge product).  The apply step is the other half of
    the tokenizer-training loop: learn rules (q_bpe_merges), then
    re-segment every document with them — here both run in the same K
    synchronous rounds, so the reported counts are the exact
    frequencies a {BPE_MERGES}-rule tokenizer would produce.  Scale
    shape: one explode + partial-aggregated ``sum(freq)`` over the
    distinct-word table, global cut via TakeOrderedAndProject."""
    _, words = _learn(spark, sf_dir)
    return (
        words.select(
            F.explode(
                F.split(
                    F.expr("substr(sym, 2, length(sym) - 2)"),
                    BPE_CLOSE + BPE_OPEN,
                )
            ).alias("sym"),
            "freq",
        )
        .groupBy("sym")
        .agg(F.sum("freq").alias("n_occ"))
        .select(
            "sym",
            F.length("sym").cast("long").alias("sym_len"),
            "n_occ",
        )
        .orderBy(F.desc("n_occ"), F.asc("sym"))
        .limit(BPE_VOCAB_TOP)
    )


#: DuckDB spellings of the bracket delimiters (chr() keeps the SQL text
#: printable; string_split is literal, so no regex escaping concerns).
_OPEN_SQL = "chr(1)"
_CLOSE_SQL = "chr(2)"


def _bpe_cte_prefix() -> str:
    """The identical {BPE_MERGES} rounds, unrolled as chained CTEs."""
    parts = [
        f"""WITH w0 AS (
  SELECT list_aggregate(list_transform(generate_series(1, length(w)),
                                       i -> {_OPEN_SQL} || substr(w, i, 1)
                                            || {_CLOSE_SQL}),
                        'string_agg', '') AS sym
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
  WHERE length(w) > 0
)"""
    ]
    for r in range(1, BPE_MERGES + 1):
        p = r - 1
        parts.append(
            f""", p{r} AS (
  SELECT pr[1] AS a, pr[2] AS b, COUNT(*) AS cnt
  FROM (SELECT unnest(list_zip(list_slice(l, 1, len(l) - 1),
                               list_slice(l, 2, len(l)))) AS pr
        FROM (SELECT string_split(substr(sym, 2, length(sym) - 2),
                                  {_CLOSE_SQL} || {_OPEN_SQL}) AS l
              FROM w{p}) t
        WHERE len(l) >= 2) u
  GROUP BY 1, 2
), t{r} AS (
  SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
), w{r} AS (
  SELECT replace(sym,
                 (SELECT {_OPEN_SQL} || a || {_CLOSE_SQL}
                         || {_OPEN_SQL} || b || {_CLOSE_SQL} FROM t{r}),
                 (SELECT {_OPEN_SQL} || a || b || {_CLOSE_SQL} FROM t{r}))
           AS sym
  FROM w{p}
)"""
        )
    return "".join(parts)


BPE_MERGES_SQL = _bpe_cte_prefix() + "\nUNION ALL\n".join(
    f"SELECT {r} AS merge_idx, a AS left_sym, b AS right_sym,"
    f" CAST(cnt AS BIGINT) AS pair_count FROM t{r}"
    for r in range(1, BPE_MERGES + 1)
)

BPE_APPLY_SQL = (
    _bpe_cte_prefix()
    + f"""
SELECT sym,
       CAST(length(sym) AS BIGINT) AS sym_len,
       CAST(COUNT(*) AS BIGINT)   AS n_occ
FROM (SELECT unnest(string_split(substr(sym, 2, length(sym) - 2),
                                 {_CLOSE_SQL} || {_OPEN_SQL})) AS sym
      FROM w{BPE_MERGES}) t
GROUP BY sym
ORDER BY n_occ DESC, sym ASC
LIMIT {BPE_VOCAB_TOP}
"""
)


QUERIES = {
    "q_bpe_merges": bpe_merges,
    "q_bpe_apply": bpe_apply,
}

ORACLE = {
    "q_bpe_merges": BPE_MERGES_SQL,
    "q_bpe_apply": BPE_APPLY_SQL,
}
