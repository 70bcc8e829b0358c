"""[EXT] WordPiece TRAINING — the third production tokenizer family.

BPE (operators/bpe.py, Sennrich 2016) merges the most FREQUENT adjacent
pair; unigram-LM (operators/unigram.py, Kudo 2018) prunes a superset
vocabulary by EM likelihood; WordPiece (Schuster & Nakajima 2012, "Japanese
and Korean Voice Search"; the BERT-lineage tokenizer — public algorithm)
sits between them: BPE's bottom-up merge loop, but the pair chosen each
round maximizes the LIKELIHOOD GAIN of a unigram language model,

    score(a, b) = count(ab) / (count(a) · count(b)),

i.e. frequent pairs are discounted by how frequent their parts already are
— the merge that most increases Σ freq·log P(word) under the unigram model.
Continuation symbols carry the ``##`` prefix (the BERT convention): the
initial alphabet is {first char} ∪ {##c for word-internal chars}, and
merging ``a`` + ``##b`` yields ``a b`` spelled ``a##b``-stripped → ``ab``,
while ``##a`` + ``##b`` yields ``##ab``.

Scale design (identical shape to bpe.py, and the reason all three trainers
share it): ONE corpus scan builds the Zipf-bounded ``(word, freq, syms)``
vocab; per merge round, pair counts AND symbol unigram counts come out of
ONE ``mapInPandas`` pass with per-task Counter partials, summed exactly by
a groupBy; the score argmax brings ONE row to the driver. Learned merges
apply in Python inside the NEXT round's count job (a greedy-leftmost
stack fold), so each round is one small job of constant plan shape.
Iteration cost is corpus-size-independent — at 100 TB the distinct-word
table is still broadcast-scale.

Determinism contract (what makes the DuckDB oracle exact): the score is
``cnt::double / (lhs_cnt · rhs_cnt)`` — one IEEE-double division of exact
integers, computed by a Spark SQL expression — with
``(score DESC, lhs, rhs)`` tiebreak; symbol-count products stay far below
2^53 at any tested SF, so the double is exact anyway.

Reference parity: the reference engine has no tokenizer surface
(DataStream.scala:40-56) — this module is [EXT] for the LLM-pipeline
north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zio_analytics_spark.operators.bpe import WORD_PATTERN, _words

__all__ = ["wordpiece_train", "wordpiece_model", "wordpiece_segment",
           "wordpiece_tokenize", "wordpiece_vocab_pieces", "wordpiece_apply",
           "wordpiece_results_df"]

#: bound the Python re-apply depth: every this-many merges the vocab is
#: re-checkpointed so round k never replays more than this many merges
#: (n_merges in the thousands stays O(k·V), not O(k²·V))
_WP_CHECKPOINT_EVERY = 8

#: schema of the per-round training rows (wordpiece_train's output)
_RESULTS_SCHEMA = (
    "iter int, lhs string, rhs string, pair_count bigint, "
    "lhs_count bigint, rhs_count bigint, total_syms bigint"
)


def _strip_cont(sym: str) -> str:
    return sym[2:] if sym.startswith("##") else sym


def _wp_vocab(df: DataFrame, text_col: str, word_pattern: str) -> DataFrame:
    """One corpus scan → (word, freq, syms) with the ``##`` alphabet:
    first char bare, every word-internal char ##-prefixed."""
    chars = F.regexp_extract_all(F.col("word"), F.lit("."), 0)
    syms = F.concat(
        F.slice(chars, 1, 1),
        F.transform(
            F.slice(chars, 2, F.greatest(F.size(chars) - 1, F.lit(0))),
            lambda c: F.concat(F.lit("##"), c),
        ),
    )
    return (
        df.select(F.explode(_words(text_col, word_pattern)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", syms)
    )


def _apply_merges_py(syms, merges) -> list:
    """Apply each learned merge in order as a greedy-leftmost stack fold.
    A just-merged stack top spells ``lhs + strip(rhs)``, strictly longer
    than ``lhs`` (a bare ``##`` is never a symbol), so it never re-matches
    as ``lhs`` — except when lhs == rhs, where runs resolve at even
    offsets (pinned against ``naive_wordpiece`` in test_wordpiece)."""
    out = list(syms)
    for lhs, rhs, merged in merges:
        nxt: list = []
        for x in out:
            if nxt and nxt[-1] == lhs and x == rhs:
                nxt[-1] = merged
            else:
                nxt.append(x)
        out = nxt
    return out


def _merged_vocab(base: DataFrame, merges: tuple) -> DataFrame:
    """``base`` with every merge in ``merges`` applied to ``syms`` — one
    mapInPandas carrying all other columns through unchanged."""
    if not merges:
        return base
    import pandas as pd

    schema = base.schema
    cols = [f.name for f in schema.fields]

    def apply(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["syms"] = [_apply_merges_py(s, merges) for s in pdf["syms"]]
            yield pdf[cols]

    return base.mapInPandas(apply, schema)


def _wp_count(cur: DataFrame) -> DataFrame:
    """Adjacent-pair AND symbol unigram counts in ONE pass: per-task
    Counter partials (guide §2.3 — aggregate before you shuffle), tagged
    ``kind`` 'P'/'S', summed exactly by the downstream groupBy."""
    import pandas as pd

    def counter(batches):
        from collections import Counter

        cp: Counter = Counter()
        cs: Counter = Counter()
        for pdf in batches:
            for f, syms in zip(pdf["freq"], pdf["syms"]):
                f = int(f)
                prev = None
                for s in syms:
                    cs[s] += f
                    if prev is not None:
                        cp[(prev, s)] += f
                    prev = s
        rows = [("P", a, b, c) for (a, b), c in cp.items()] + [
            ("S", s, "", c) for s, c in cs.items()
        ]
        if rows:
            yield pd.DataFrame(rows, columns=["kind", "a", "b", "cnt"])

    return cur.select("freq", "syms").mapInPandas(
        counter, "kind string, a string, b string, cnt long"
    )


def _wp_train_loop(vocab: DataFrame, n_merges: int) -> tuple[list, DataFrame]:
    """The merge-learning loop; returns (rows, FINAL vocab). Driver state
    per round: one 5-number row plus the bounded merge list. The base
    vocab is localCheckpoint'd once and re-checkpointed every
    ``_WP_CHECKPOINT_EVERY`` merges; the post-merge symbol total rides the
    next round's job as an Observation (bpe's pattern). Exactness: the
    counts are integer sums (order-free), the score division/argmax/
    tie-break run in Spark SQL, and the post-merge total is the same
    exact integer sum observed on the next round's scan."""
    from pyspark.sql import Observation

    base = vocab.localCheckpoint()
    merges: list = []  # (lhs, rhs, merged) applied in Python since base
    results = []
    pending = None  # last round's row, waiting for its post-merge total
    for it in range(n_merges):
        if len(merges) >= _WP_CHECKPOINT_EVERY:
            base = _merged_vocab(base, tuple(merges)).localCheckpoint()
            merges = []
        obs = Observation()
        cur = _merged_vocab(base, tuple(merges)).observe(
            obs, F.sum(F.col("freq") * F.size("syms")).alias("t")
        )
        agg = (
            _wp_count(cur)
            .groupBy("kind", "a", "b")
            .agg(F.sum("cnt").alias("cnt"))
        )
        pairs = agg.where(F.col("kind") == "P").select(
            F.col("a").alias("lhs"), F.col("b").alias("rhs"), "cnt"
        )
        sym_counts = agg.where(F.col("kind") == "S").select(
            F.col("a").alias("sym"), F.col("cnt").alias("scnt")
        )
        scored = (
            pairs.join(
                sym_counts.select(
                    F.col("sym").alias("lhs"), F.col("scnt").alias("lhs_cnt")
                ),
                "lhs",
            )
            .join(
                sym_counts.select(
                    F.col("sym").alias("rhs"), F.col("scnt").alias("rhs_cnt")
                ),
                "rhs",
            )
            .withColumn(
                "score",
                F.col("cnt").cast("double") / (F.col("lhs_cnt") * F.col("rhs_cnt")),
            )
        )
        top = scored.orderBy(F.desc("score"), "lhs", "rhs").limit(1).collect()
        if pending is not None:
            # the observation on THIS round's scan is Σ freq·|syms| of the
            # vocab AFTER the pending round's merge — bpe's one-job-per-
            # iteration trick
            results.append((*pending, int(obs.get["t"])))
            pending = None
        if not top:  # all-single-symbol vocabulary
            break
        best = top[0]
        merges.append((best["lhs"], best["rhs"], best["lhs"] + _strip_cont(best["rhs"])))
        pending = (
            it,
            best["lhs"],
            best["rhs"],
            int(best["cnt"]),
            int(best["lhs_cnt"]),
            int(best["rhs_cnt"]),
        )
    final = _merged_vocab(base, tuple(merges))
    if pending is not None:
        total = final.agg(
            F.sum(F.col("freq") * F.size("syms")).alias("t")
        ).collect()[0]["t"]
        results.append((*pending, int(total)))
    return results, final


def wordpiece_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 4,
    word_pattern: str = WORD_PATTERN,
) -> DataFrame:
    """Learn the first ``n_merges`` WordPiece merges from a text column.

    Returns one row per round:
    ``(iter, lhs, rhs, pair_count, lhs_count, rhs_count, total_syms)`` —
    the chosen pair, its frequency-weighted adjacent-pair count, BOTH
    unigram symbol counts entering the score denominator (so the oracle
    pins the score's inputs exactly, not just the winner), and
    Σ freq·|syms| over the vocab AFTER the merge (pins the application
    step, like bpe_train)."""
    spark: SparkSession = df.sparkSession
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    vocab = _wp_vocab(df, text_col, word_pattern).select("freq", "syms")
    results, _ = _wp_train_loop(vocab, n_merges)
    return wordpiece_results_df(spark, results)


def wordpiece_results_df(spark: SparkSession, results: list) -> DataFrame:
    """Per-round training rows as a DataFrame (wordpiece_train's schema).
    pandas input rides the Arrow createDataFrame path — the pickled-list
    path costs ~0.5-2 s of py4j/Python-runner overhead even for a handful
    of rows (measured r17); empty results keep the explicit schema."""
    if not results:
        return spark.createDataFrame([], _RESULTS_SCHEMA)
    import pandas as pd

    cols = ["iter", "lhs", "rhs", "pair_count", "lhs_count", "rhs_count",
            "total_syms"]
    pdf = pd.DataFrame(results, columns=cols).astype(
        {"iter": "int32", "pair_count": "int64", "lhs_count": "int64",
         "rhs_count": "int64", "total_syms": "int64"}
    )
    return spark.createDataFrame(pdf, schema=_RESULTS_SCHEMA)


def wordpiece_model(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 4,
    word_pattern: str = WORD_PATTERN,
) -> tuple[list, DataFrame]:
    """TRAIN-OFFLINE artifact pair for WordPiece — the deployment split the
    round-9 bench breach asked for (VERDICT r9 #1; same shape as
    unigram_model / quality_logreg_train).

    Returns ``(results, seg)``:

    - ``results`` — the per-round merge rows (wordpiece_train's content,
      as a plain list: bounded driver state, n_merges rows);
    - ``seg`` — the MERGE-CLOSED vocab segmentation ``(word, syms)`` as a
      materialized parquet scan: every serving pass (segment / tokenize /
      maximal-munch apply) derives its broadcast dimension from it with
      zero training jobs."""
    from zio_analytics_spark.tmpdirs import materialize_table

    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    vocab = _wp_vocab(df, text_col, word_pattern)
    results, cur = _wp_train_loop(vocab, n_merges)
    seg = materialize_table(cur.select("word", "syms"), prefix="zas_wp_seg_")
    return results, seg


def wordpiece_segment(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    word_pattern: str = WORD_PATTERN,
    seg: DataFrame | None = None,
) -> DataFrame:
    """Apply side: segment every document with the learned merges →
    ``(id, n_words, n_tokens)``. Same shape as bpe_segment: the trained
    segmentation is computed ONCE on the Zipf-bounded vocab, materialized
    as a word → piece-count dimension, and the corpus pass is one explode
    + broadcast join + per-doc sum — corpus cost is one scan regardless
    of merge count. (This is the merge-consistent segmentation the
    trainer defines; serving stacks usually apply longest-match over the
    final vocab, which coincides on merge-closed vocabularies —
    :func:`wordpiece_tokenize` exposes the pieces themselves, ``##``
    prefixes included.) Wordless documents are excluded (inner join).

    ``seg`` is the pretrained ``(word, syms)`` table from
    :func:`wordpiece_model`; when given, zero training jobs run here."""
    if seg is None:
        _, seg = wordpiece_model(df, text_col, n_merges, word_pattern)
    dim = seg.select("word", F.size("syms").alias("n_sub"))
    words = df.select(
        F.col(id_col), F.explode(_words(text_col, word_pattern)).alias("word")
    )
    return (
        words.join(F.broadcast(dim), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_tokens"),
        )
    )


def wordpiece_tokenize(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    word_pattern: str = WORD_PATTERN,
    seg: DataFrame | None = None,
) -> DataFrame:
    """Serving surface: the actual ``##``-prefixed piece sequence per
    document — ``(id, tokens array<string>, n_tokens)``. One corpus pass:
    posexplode → broadcast word→pieces dimension → ordered reassembly
    (array_sort over (pos, syms) structs + flatten), exactly
    bpe_tokenize's plan shape.

    ``seg`` is the pretrained ``(word, syms)`` table from
    :func:`wordpiece_model`; when given, zero training jobs run here."""
    if seg is None:
        _, seg = wordpiece_model(df, text_col, n_merges, word_pattern)
    dim = seg.select("word", "syms")
    words = df.select(
        F.col(id_col),
        F.posexplode(_words(text_col, word_pattern)).alias("pos", "word"),
    )
    assembled = (
        words.join(F.broadcast(dim), "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda s: s["syms"],
                )
            ).alias("tokens")
        )
    )
    return assembled.select(id_col, "tokens", F.size("tokens").alias("n_tokens"))


def wordpiece_vocab_pieces(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 4,
    word_pattern: str = WORD_PATTERN,
    model: tuple[list, DataFrame] | None = None,
) -> tuple[list, list]:
    """Train and return the PIECE VOCABULARY as two driver-side lists:
    ``(bare_pieces, cont_pieces)`` — the initial alphabet (first-position
    chars bare, word-internal chars ##-prefixed) plus every merged symbol
    from the ``n_merges`` rounds. Bounded by |alphabet| + n_merges (a real
    30k-piece vocab is still broadcast-scale), which is what lets the
    serving tokenizer hold it as one broadcast set.

    ``model`` is the pretrained ``(results, seg)`` pair from
    :func:`wordpiece_model`; when given, only the bounded alphabet
    distinct runs here — zero training jobs."""
    if model is not None:
        results, cur = model
    else:
        vocab = _wp_vocab(df, text_col, word_pattern).select("freq", "syms")
        results, cur = _wp_train_loop(vocab, n_merges)
    alphabet = {
        r["sym"]
        for r in cur.select(F.explode("syms").alias("sym")).distinct().collect()
    }
    # merged symbols from the training rows; the surviving alphabet plus
    # ALL merge products is the standard WordPiece vocab (a merge's parts
    # stay in the vocab — serving may still need them)
    pieces = set(alphabet)
    for _it, lhs, rhs, _pc, _lc, _rc, _tot in results:
        pieces.add(lhs)
        pieces.add(rhs)
        pieces.add(lhs + _strip_cont(rhs))
    bare = sorted(p for p in pieces if not p.startswith("##"))
    cont = sorted(p[2:] for p in pieces if p.startswith("##"))
    return bare, cont


def wordpiece_apply(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    word_pattern: str = WORD_PATTERN,
    unk: str = "[UNK]",
    apply_df: DataFrame | None = None,
    model: tuple[list, DataFrame] | None = None,
) -> DataFrame:
    """SERVING-algorithm WordPiece tokenization: greedy LONGEST-MATCH-FIRST
    (maximal munch) against the trained piece vocabulary — the algorithm
    BERT's WordPieceTokenizer actually runs, as opposed to the
    merge-replay segmentation :func:`wordpiece_tokenize` derives from
    training (the two coincide on merge-closed vocabularies but can
    differ in general; shipping BOTH makes the difference testable). A
    word with an unmatchable position maps to the single ``unk`` piece
    (the BERT convention).

    ``apply_df`` lets a vocab trained on one corpus tokenize ANOTHER —
    the train-offline/serve-online shape; this is where ``unk`` actually
    fires (corpus-self application never does: every word's own chars
    are in the alphabet). ``model`` is the pretrained ``(results, seg)``
    pair from :func:`wordpiece_model`; when given, zero training jobs
    run here (the round-9 bench-breach fix).

    Scale shape: the piece vocab is a broadcast Python set; maximal munch
    runs ONCE per DISTINCT word of the apply corpus (Zipf-bounded) inside
    one Arrow ``mapInPandas``, and the corpus pass is posexplode +
    broadcast dimension join + ordered reassembly — identical plan shape
    to wordpiece_tokenize. Returns ``(id, tokens array<string>,
    n_tokens)``; wordless documents are excluded."""
    import pandas as pd

    from zio_analytics_spark.tmpdirs import materialize_table

    bare, cont = wordpiece_vocab_pieces(
        df, text_col, n_merges, word_pattern, model=model
    )
    bare_set, cont_set = set(bare), set(cont)
    max_len = max((len(p) for p in bare_set | cont_set), default=1)
    target = apply_df if apply_df is not None else df

    words = target.select(
        F.explode(_words(text_col, word_pattern)).alias("word")
    ).distinct()

    def munch(batches):
        for pdf in batches:
            out_w, out_p = [], []
            for word in pdf["word"]:
                pieces: list[str] = []
                pos = 0
                while pos < len(word):
                    table = bare_set if pos == 0 else cont_set
                    ln = min(max_len, len(word) - pos)
                    while ln > 0 and word[pos : pos + ln] not in table:
                        ln -= 1
                    if ln == 0:
                        pieces = [unk]
                        break
                    frag = word[pos : pos + ln]
                    pieces.append(frag if pos == 0 else "##" + frag)
                    pos += ln
                out_w.append(word)
                out_p.append(pieces)
            yield pd.DataFrame({"word": out_w, "syms": out_p})

    dim = materialize_table(
        words.repartition(
            words.sparkSession.sparkContext.defaultParallelism
        ).mapInPandas(munch, "word string, syms array<string>"),
        prefix="zas_wp_mm_",
    )
    toks = target.select(
        F.col(id_col),
        F.posexplode(_words(text_col, word_pattern)).alias("pos", "word"),
    )
    assembled = (
        toks.join(F.broadcast(dim), "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda s: s["syms"],
                )
            ).alias("tokens")
        )
    )
    return assembled.select(id_col, "tokens", F.size("tokens").alias("n_tokens"))
