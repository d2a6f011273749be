"""Distributed byte-pair-encoding merge training — the tokenizer-building
stage of a training-data pipeline, expressed as Spark aggregations.

BPE (Sennrich et al., ACL 2016) learns a merge table: repeatedly count
adjacent symbol pairs across the corpus and merge the most frequent one.
The distributed formulation is the classic word-count factoring (the same
one fast tokenizer trainers use): aggregate the corpus ONCE into
``(word, freq)`` — the only corpus-sized shuffle — then train on the
distinct-word table, which is vocabulary-sized and corpus-size-independent.
At 100 TB the word count is a map-side-combine groupBy over the scan;
every training iteration after it touches ~|vocab| rows.

Determinism / oracle story: pair counts are integer sums (order-free), the
argmax tie-break is total (count desc, then both token strings ascending,
binary collation in both engines), and merge application is leftmost
non-overlapping literal ``replace`` — identical semantics in Spark and
DuckDB.  Each word rides as a delimited symbol string ``|c||h||a||r|``
(every symbol flanked by its own ``|``), which makes one merge step a
single ``replace('|l||r|', '|lr|')``: patterns can never overlap-match
across a shared delimiter, so both engines produce the greedy
left-to-right merge BPE specifies.  The oracle unrolls the training loop
into static CTE stages generated from the same constants as this loop
(qcatalog/textstats.py), so even an iterative learned artifact
hash-matches cross-engine.

The per-iteration argmax is a one-row ``collect`` (the learned merge must
become a literal in the next plan) — bounded driver traffic by
construction, same pattern as the components convergence probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from ..session import CHECKPOINT_LEVEL

#: symbol delimiter — must not occur inside any symbol; word characters
#: are whitespace-split corpus tokens, so '|' is safe for the catalog use
SEP = "|"


def word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """``(word, freq)`` over whitespace tokens — the one corpus-sized
    aggregation (map-side combine; shuffle keyed on the word)."""
    return (
        docs.select(
            F.explode(
                F.split(F.trim(F.col(text_col)), r"[ \t\n\x0B\f\r]+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _seq_expr(word) -> F.Column:
    """A word as a delimited symbol string: ``cat`` → ``|c||a||t|``."""
    chars = F.regexp_extract_all(word, F.lit("."), 0)
    return F.concat(F.lit(SEP), F.array_join(chars, SEP + SEP), F.lit(SEP))


def _pair_counts(seq: DataFrame) -> DataFrame:
    """Adjacent-symbol pair frequencies ``(t1, t2, cnt)`` of the current
    sequences, freq-weighted."""
    toks = F.split(
        F.col("seq").substr(F.lit(2), F.length("seq") - 2), r"\|\|"
    )
    z = F.arrays_zip(
        F.slice(toks, 1, F.size(toks) - 1).alias("t1"),
        F.slice(toks, 2, F.size(toks) - 1).alias("t2"),
    )
    return (
        seq.select(F.explode(z).alias("z"), "freq")
        .select(F.col("z.t1").alias("t1"), F.col("z.t2").alias("t2"), "freq")
        .groupBy("t1", "t2")
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_train(
    words: DataFrame,
    word_col: str,
    freq_col: str,
    n_merges: int = 8,
    checkpoint_every: int = 4,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from a ``(word, freq)`` table;
    returns ``[(step, left, right, pair_count), ...]``.

    Every iteration: one vocabulary-sized pair count (groupBy + integer
    sum), a deterministic 1-row argmax, one literal replace.  Sequences
    are eagerly checkpointed every ``checkpoint_every`` merges (r15,
    guide §2: a literal ``replace`` is one cheap string pass, so letting
    a few of them stack in the argmax scan costs less than a
    materialization job per step — halving the job count of the training
    loop — while the cadence still keeps the lineage bounded for large
    ``n_merges``)."""
    # the delimiter construction is the correctness foundation: a word
    # containing SEP would forge bucket boundaries and corrupt every
    # merge after it.  The check is one filter over the vocab-sized
    # table — cheap, and it fails fast instead of training garbage.
    n_bad = words.filter(F.col(word_col).contains(SEP)).count()
    if n_bad:
        raise ValueError(
            f"{n_bad} words contain the symbol delimiter {SEP!r}; "
            "strip or remap them before BPE training"
        )
    seq = words.select(
        _seq_expr(F.col(word_col)).alias("seq"),
        F.col(freq_col).cast("long").alias("freq"),
    ).localCheckpoint(eager=True, storageLevel=CHECKPOINT_LEVEL)
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        best = (
            _pair_counts(seq)
            .orderBy(F.desc("cnt"), F.asc("t1"), F.asc("t2"))
            .limit(1)
            .collect()
        )
        if not best:
            raise ValueError(
                f"pair space exhausted after {step - 1} merges; "
                f"lower n_merges (= {n_merges}) for this corpus"
            )
        left, right, cnt = best[0]["t1"], best[0]["t2"], int(best[0]["cnt"])
        merges.append((step, left, right, cnt))
        pat = f"{SEP}{left}{SEP}{SEP}{right}{SEP}"
        rep = f"{SEP}{left}{right}{SEP}"
        seq = seq.select(
            F.replace(F.col("seq"), F.lit(pat), F.lit(rep)).alias("seq"),
            "freq",
        )
        if step % max(checkpoint_every, 1) == 0:
            seq = seq.localCheckpoint(
                eager=True, storageLevel=CHECKPOINT_LEVEL
            )
    return merges


def bpe_merge_table(
    spark: SparkSession,
    words: DataFrame,
    word_col: str,
    freq_col: str,
    n_merges: int = 8,
) -> DataFrame:
    """The learned merge table as a DataFrame — the query-shaped artifact
    (``step, merge_left, merge_right, pair_count``) a tokenizer consumes."""
    rows = bpe_train(words, word_col, freq_col, n_merges)
    return spark.createDataFrame(
        rows, "step long, merge_left string, merge_right string, pair_count long"
    )


def bpe_apply(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[int, str, str, int]],
) -> DataFrame:
    """Tokenize a corpus with a learned merge table: per doc,
    ``(doc_id, n_bpe_tokens)`` after applying every merge in order.

    Scan-local: each word is delimited, the merge replaces are applied as
    a fixed chain of literal ``replace`` expressions (same semantics the
    trainer used), and the token count is read off the delimiter count —
    no shuffle, no UDF, whole-stage codegen.

    Docs containing the ``|`` symbol delimiter are un-tokenizable under
    this scheme (a pipe inside a word forges boundary bytes and corrupts
    the count); matching the trainer's fail-fast guard would cost a
    second corpus scan, so the applier stays one-pass and emits
    ``n_bpe_tokens = NULL`` for those rows instead — explicit and
    filterable, never a silently wrong count."""
    toks = F.split(F.trim(F.col(text_col)), r"[ \t\n\x0B\f\r]+")
    has_sep = F.col(text_col).contains(SEP)
    word_seq = F.transform(
        F.filter(toks, lambda w: w != ""), lambda w: _seq_expr(w)
    )
    # one string per doc; words separated by a space so merges (which are
    # always '|'-anchored) can never bridge a word boundary
    doc_seq = F.array_join(word_seq, " ")
    for _, left, right, _ in merges:
        doc_seq = F.replace(
            doc_seq,
            F.lit(f"{SEP}{left}{SEP}{SEP}{right}{SEP}"),
            F.lit(f"{SEP}{left}{right}{SEP}"),
        )
    # tokens per word = inner '||' boundaries + 1; summed over the doc
    # that is count('||') + n_words, both from integer length deltas
    n_inner = (
        F.length(doc_seq) - F.length(F.replace(doc_seq, F.lit(SEP + SEP)))
    ) / 2
    n_words = F.size(F.filter(toks, lambda w: w != ""))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.when(has_sep, F.lit(None))
        .otherwise((n_inner + n_words).cast("long"))
        .alias("n_bpe_tokens"),
    )
