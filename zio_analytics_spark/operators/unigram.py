"""[EXT] Unigram-LM (SentencePiece-style) tokenizer TRAINING — the second
production tokenizer family next to BPE (operators/bpe.py), per Kudo 2018,
"Subword Regularization: Improving Neural Network Translation Models with
Multiple Subword Candidates" (public algorithm). Where BPE grows a vocab
bottom-up by merging, unigram-LM starts from a LARGE candidate piece set
and iterates EM: score pieces by a unigram language model, segment the
corpus by maximum likelihood, re-estimate piece counts from the chosen
segmentations, prune pieces that stopped being used.

This implementation is the deterministic HARD-EM (Viterbi-EM) variant —
the E-step keeps only each word's single best segmentation — with every
source of nondeterminism pinned so a SQL oracle can replay training
bit-for-bit:

- FIXED iteration count (no convergence test);
- piece log-probs are INTEGER fixed-point: ``ilogp = round((ln(cnt) −
  ln(total)) · 10⁶)`` as BIGINT — the Viterbi DP then sums/compares
  integers only, so path scores are exact (the single per-piece ``ln``
  is the only float op, evaluated in the JVM and pinned by the rounding);
- Viterbi tie-break: among equal-score segmentations the backtrace picks
  the match with the SMALLEST start (= longest last piece), recursively;
- seed selection tie-break: candidates rank by (count DESC, piece ASC).

Scale design (the same discipline as bpe.py):

- ONE corpus scan builds the Zipf-bounded ``(word, freq)`` vocabulary;
  every EM iteration runs on that table — iteration cost is independent
  of corpus row count, so a 100 TB corpus trains at the same per-round
  cost as a 1 GB one (only the single vocab-building scan scales).
- The piece table is bounded by ``top_k + |alphabet|`` rows and lives on
  the driver. Each EM round scores it with one tiny JVM projection
  (:func:`_ilogp_rows`) and ships the ``piece → ilogp`` dict in the task
  closure of ONE ``mapInPandas`` that runs the per-word Viterbi (DP +
  backtrace) and recounts pieces into per-task Counter partials; a
  groupBy sum merges them. The vocab fans out over
  :func:`_vocab_parts` tasks, sized once per run.
- Single characters are never pruned (floor count 1): full coverage is
  guaranteed, so the DP never sees an unreachable position.

The apply side (:func:`unigram_segment`) mirrors ``bpe_segment``:
segmentation is computed ONCE on the vocab, materialized as a
``word → token-count`` dimension, and the corpus pass is one explode +
broadcast join + per-doc sum — corpus cost is one scan regardless of
vocab size or iteration count.

Reference scope note: the zio-analytics reference (Expression.scala:19-43)
stops at fixed string ops; tokenizer training is part of this repo's
[EXT] LLM-pipeline surface (SURVEY.md §2), not a reference port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zio_analytics_spark.operators.bpe import WORD_PATTERN

__all__ = ["unigram_train", "unigram_model", "unigram_segment", "unigram_tokenize"]


def _word_freqs(df: DataFrame, text_col: str, word_pattern: str) -> DataFrame:
    """One corpus scan → the Zipf-bounded ``(word, freq)`` table."""
    return (
        df.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(word_pattern), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _ilogp_rows(spark: SparkSession, pairs: list) -> list:
    """``[(piece, cnt, ilogp)]`` for a bounded driver-side piece list, via
    ONE tiny JVM projection job: ``round((ln(cnt) − ln(tot))·10⁶)`` with
    both operands cast long→double in the JVM. The total enters as a
    literal (it is an exact integer sum the driver already holds), so no
    aggregate and no broadcast exchange: a broadcast 1-row aggregate cost
    ~1-3 s PER ROUND in plan/exchange overhead on an 88-row local table
    (measured r17)."""
    import pandas as pd

    tot = sum(c for _, c in pairs)
    # pandas input rides the Arrow createDataFrame path: ~0.07 s vs ~0.5-2 s
    # for the pickled-list path on an 88-row table (measured r17)
    df = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["piece", "cnt"]).astype({"cnt": "int64"}),
        schema="piece string, cnt long",
    )
    scored = df.withColumn(
        "ilogp",
        F.round(
            (F.log(F.col("cnt").cast("double")) - F.log(F.lit(tot).cast("double")))
            * F.lit(1000000.0)
        ).cast("long"),
    )
    return [(r["piece"], r["cnt"], r["ilogp"]) for r in scored.collect()]


def _pieces_df(spark: SparkSession, scored: list) -> DataFrame:
    """The BOUNDED ``(piece, cnt, ilogp)`` model table as an Arrow-backed
    local DataFrame — the values are final driver-side data, so a parquet
    round-trip (~1.4-2.7 s of committer overhead measured r17) buys
    nothing: a local frame recomputes nothing and survives clearCache()."""
    import pandas as pd

    pdf = pd.DataFrame(scored, columns=["piece", "cnt", "ilogp"]).astype(
        {"cnt": "int64", "ilogp": "int64"}
    )
    return spark.createDataFrame(pdf, schema="piece string, cnt long, ilogp long")


def _viterbi_toks_py(word: str, lp: dict, L: int) -> list:
    """Maximum-likelihood segmentation of one word: forward DP
    ``best[e] = max over pieces w[s:e] of best[s] + ilogp``, then a
    backtrace that picks the SMALLEST start among optimal matches (the
    deterministic tie-break). Tokens come out LAST-PIECE-FIRST. All scores
    are the int64 fixed-point ``ilogp`` values — integer sums and
    compares, so the result is exact (pinned against the pure-Python
    reference in test_unigram). Raises on a word the piece set cannot
    cover — impossible in training, where every single character of the
    vocab is a floored piece (the coverage guarantee)."""
    n = len(word)
    best = [0] * (n + 1)
    for e in range(1, n + 1):
        m = None
        lo = e - L if e > L else 0
        for s in range(lo, e):
            v = lp.get(word[s:e])
            if v is not None and best[s] is not None:
                c = best[s] + v
                if m is None or c > m:
                    m = c
        if m is None:
            raise ValueError(f"piece set cannot cover word: {word!r}")
        best[e] = m
    toks = []
    pos = n
    while pos > 0:
        lo = pos - L if pos > L else 0
        for s in range(lo, pos):  # ascending = smallest-start tie-break
            v = lp.get(word[s:pos])
            if v is not None and best[s] + v == best[pos]:
                toks.append(word[s:pos])
                pos = s
                break
    return toks


#: words per Python task below which extra fan-out loses: one mapInPandas
#: task costs ~20-40 ms of dispatch vs ~1 ms of DP per 64 words (measured
#: r17: fanning a 31-word vocab to 32 tasks cost 1.2-1.7 s/call; 1 task
#: 0.42 s). Above it, tasks saturate the session's cores.
_WORDS_PER_TASK = 4096


def _vocab_parts(vocab_rows: int, spark: SparkSession) -> int:
    """Scale-adaptive Python-stage fan-out: ≥1 task per _WORDS_PER_TASK
    words, capped at defaultParallelism (cluster-tracking, never a
    literal). A tiny vocab runs one task; a 10M-word vocab fills the
    fleet."""
    dp = spark.sparkContext.defaultParallelism
    need = -(-int(vocab_rows) // _WORDS_PER_TASK)  # ceil
    return max(1, min(dp, need))


def _fan_out(df: DataFrame, n_parts: int) -> DataFrame:
    """Spread the vocab over ``n_parts`` tasks before per-row Python work."""
    return df.repartition(int(n_parts))


def _viterbi_segs(
    words: DataFrame, lp: dict, max_piece_len: int, n_parts: int = 1
) -> DataFrame:
    """Segment every vocab word under the piece model: ``(word, freq,
    toks)`` via one mapInPandas — the bounded piece→ilogp dict rides the
    task closure."""
    import pandas as pd

    L = int(max_piece_len)

    def seg(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "freq": pdf["freq"],
                    "toks": [_viterbi_toks_py(w, lp, L) for w in pdf["word"]],
                }
            )

    return _fan_out(words.select("word", "freq"), n_parts).mapInPandas(
        seg, "word string, freq long, toks array<string>"
    )


def _viterbi_recount(
    words: DataFrame, lp: dict, max_piece_len: int, n_parts: int = 1
) -> DataFrame:
    """The EM recount: Viterbi + piece recount in the SAME
    pass, leaving each task as pre-aggregated ``(piece, cnt)`` partials
    (map-side combine in Python — guide §2.3: aggregate before you shuffle;
    rows out per task ≈ |pieces|, not |vocab|·|toks|)."""
    import pandas as pd

    L = int(max_piece_len)

    def recount(batches):
        from collections import Counter

        c: Counter = Counter()
        for pdf in batches:
            for w, f in zip(pdf["word"], pdf["freq"]):
                f = int(f)
                for t in _viterbi_toks_py(w, lp, L):
                    c[t] += f
        if c:
            yield pd.DataFrame({"piece": list(c.keys()), "cnt": list(c.values())})

    return _fan_out(words.select("word", "freq"), n_parts).mapInPandas(
        recount, "piece string, cnt long"
    )


def _seed_cand(
    vocab: DataFrame, max_piece_len: int, n_parts: int = 1
) -> DataFrame:
    """The seed candidate count: substring enumeration +
    per-task Counter partials in one mapInPandas (same partial-aggregate
    discipline as the recount — the groupBy sum downstream is exact)."""
    import pandas as pd

    L = int(max_piece_len)

    def cand(batches):
        from collections import Counter

        c: Counter = Counter()
        for pdf in batches:
            for w, f in zip(pdf["word"], pdf["freq"]):
                f = int(f)
                n = len(w)
                for s in range(n):
                    top = L if L < n - s else n - s
                    for ln in range(1, top + 1):
                        c[w[s : s + ln]] += f
        if c:
            yield pd.DataFrame({"piece": list(c.keys()), "cnt": list(c.values())})

    return _fan_out(vocab.select("word", "freq"), n_parts).mapInPandas(
        cand, "piece string, cnt long"
    )


def _seed_pieces(
    vocab: DataFrame,
    max_piece_len: int,
    top_k: int,
    n_parts: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Seed candidate set: every substring of length ≤ max_piece_len,
    counted with multiplicity × word frequency. Keeps ALL single characters
    (the coverage floor) plus the ``top_k`` multi-char candidates by
    (count DESC, piece ASC) — a TakeOrdered, never a global window rank.
    Returns (pieces0, alphabet)."""
    cand = (
        _seed_cand(vocab, max_piece_len, n_parts)
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
    )
    singles = cand.where(F.length("piece") == 1)
    multi = (
        cand.where(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), "piece")
        .limit(int(top_k))
    )
    return singles.unionByName(multi), singles.select("piece")


def _em_driver(
    spark: SparkSession,
    vocab: DataFrame,
    n_iters: int,
    max_piece_len: int,
    top_k: int,
    n_parts: int | None = None,
) -> list[tuple[str, int]]:
    """Run ``n_iters`` hard-EM rounds with BOUNDED driver state; returns the
    FINAL ``[(piece, cnt), …]`` list.

    The piece table is bounded by ``top_k + |alphabet|`` rows, so it is the
    same class of driver state as a k-means codebook or a BPE argmax row.
    Each round runs the bounded ilogp job (the one float op keeps JVM
    semantics) plus ONE mapInPandas recount job whose plan is two nodes,
    with the round's piece model in the task closure — a constant plan
    shape, so no round pays Catalyst re-analysis or codegen for a
    per-round expression (a Column-HOF Viterbi cost 10.4 s first-shot,
    measured r16). Semantics are byte-identical to the SQL formulation the
    catalog oracle replays: multi-char pieces keep their recount, alphabet
    singles floor at 1 (the coverage guarantee), counts are exact BIGINT
    sums. ``vocab`` should be materialized/persisted by the caller — every
    round re-scans it."""
    # one cheap count on the checkpointed vocab sizes EVERY Python stage of
    # the run (seed, per-round recounts, the caller's seg pass)
    if n_parts is None:
        n_parts = _vocab_parts(vocab.count(), spark)
    pieces0, _alpha_df = _seed_pieces(vocab, max_piece_len, top_k, n_parts)
    rows = pieces0.collect()  # bounded: all singles + top_k multis
    cur: list[tuple[str, int]] = sorted((r["piece"], int(r["cnt"])) for r in rows)
    # WORD_PATTERN-extracted words are plain codepoint strings on both
    # sides, so Python len() and Spark length() agree on "single char"
    alphabet = sorted(p for p, _ in cur if len(p) == 1)
    for _ in range(n_iters):
        # bounded: |pieces| rows through the ilogp expression
        lp = {p: int(il) for p, _c, il in _ilogp_rows(spark, cur)}
        counts = (
            _viterbi_recount(vocab, lp, max_piece_len, n_parts)
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
        cmap = {r["piece"]: int(r["cnt"]) for r in counts}
        cur = sorted(
            [(p, c) for p, c in cmap.items() if len(p) > 1]
            + [(ch, max(cmap.get(ch, 0), 1)) for ch in alphabet]
        )
    return cur


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    n_iters: int = 2,
    max_piece_len: int = 3,
    top_k: int = 64,
    word_pattern: str = WORD_PATTERN,
) -> DataFrame:
    """Train a unigram-LM tokenizer vocabulary (hard-EM, fixed rounds).

    Returns the final piece table ``(piece, cnt, ilogp)``: surviving
    pieces with their last-round Viterbi counts and fixed-point unigram
    log-probs. Deterministic end to end (see module docstring), so the
    catalog oracle replays every EM round in SQL. The BOUNDED final table
    ships as an Arrow local frame — nothing to recompute, nothing
    clearCache() can evict.
    """
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    if max_piece_len < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")
    spark = df.sparkSession
    # localCheckpoint, not a parquet materialize: the vocab is a training-
    # internal intermediate re-scanned by every EM round (the same class
    # cluster_duplicates / linkage checkpoint — §5); the parquet committer
    # alone cost 1.4-2.7 s per write on this host (measured r17)
    vocab = _word_freqs(df, text_col, word_pattern).localCheckpoint()
    final = _em_driver(spark, vocab, n_iters, max_piece_len, top_k)
    return _pieces_df(spark, _ilogp_rows(spark, final))


def unigram_model(
    df: DataFrame,
    text_col: str = "text",
    n_iters: int = 2,
    max_piece_len: int = 3,
    top_k: int = 64,
    word_pattern: str = WORD_PATTERN,
) -> tuple[DataFrame, DataFrame]:
    """TRAIN-OFFLINE artifact pair — the deployment split the round-9
    bench breach asked for (VERDICT r9 #1; the quality_logreg_train/score
    shape from classify.py): train ONCE, hand the artifacts to every
    serving call instead of re-running EM inside each query.

    Returns ``(pieces, seg)``:

    - ``pieces`` — ``(piece, cnt, ilogp)``, exactly :func:`unigram_train`'s
      output (a bounded Arrow local frame);
    - ``seg`` — ``(word, toks array<string>)``, the final model's Viterbi
      segmentation of the Zipf-bounded vocab (tokens last-piece-first, the
      backtrace order) — the dimension both :func:`unigram_segment` and
      :func:`unigram_tokenize` broadcast, as a materialized parquet scan.

    At 100 TB these are the slim model tables a pipeline stores next to
    the tokenizer config; every downstream corpus pass is then one scan +
    broadcast join with zero training jobs."""
    from zio_analytics_spark.tmpdirs import materialize_table

    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    if max_piece_len < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")
    spark = df.sparkSession
    vocab = _word_freqs(df, text_col, word_pattern).localCheckpoint()
    n_parts = _vocab_parts(vocab.count(), spark)
    final = _em_driver(spark, vocab, n_iters, max_piece_len, top_k, n_parts)
    scored = _ilogp_rows(spark, final)  # the JVM ilogp expression, one job
    pieces = _pieces_df(spark, scored)
    lp = {p: int(il) for p, _c, il in scored}
    seg_df = _viterbi_segs(vocab, lp, max_piece_len, n_parts).select("word", "toks")
    seg = materialize_table(seg_df, prefix="zas_unigram_seg_")
    return pieces, seg


def unigram_segment(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_iters: int = 2,
    max_piece_len: int = 3,
    top_k: int = 64,
    word_pattern: str = WORD_PATTERN,
    seg: DataFrame | None = None,
) -> DataFrame:
    """Apply side: Viterbi-segment the Zipf-bounded vocab ONCE into a
    ``word → token-count`` dimension, then one corpus pass (explode +
    broadcast join + per-doc sum) — identical scale shape to
    ``bpe_segment``. Returns ``(id, n_words, n_tokens)``; documents with
    no word are excluded (no tokens), matching the oracle's inner join.

    ``seg`` is the pretrained ``(word, toks)`` table from
    :func:`unigram_model` — the train-offline/serve-online split: when
    given, this call runs ZERO training jobs (the round-9 bench-breach
    fix). When None, the model is trained here from ``df``."""
    if seg is None:
        _, seg = unigram_model(
            df, text_col, n_iters, max_piece_len, top_k, word_pattern
        )
    dim = seg.select("word", F.size("toks").alias("n_tok"))
    words = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(word_pattern), 0)
        ).alias("word"),
    )
    return (
        words.join(F.broadcast(dim), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )


def unigram_tokenize(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_iters: int = 2,
    max_piece_len: int = 3,
    top_k: int = 64,
    word_pattern: str = WORD_PATTERN,
    seg: DataFrame | None = None,
) -> DataFrame:
    """Serving surface (``bpe_tokenize``'s sibling): emit each document's
    actual PIECE SEQUENCE in word order. Viterbi-segment the Zipf-bounded
    vocab once into a ``word → pieces`` dimension (backtrace pieces
    reversed into word order), then one corpus pass reassembles each
    document: posexplode → broadcast join → per-doc ordered reassembly
    (array_sort over (pos, pieces) structs + flatten — all codegen).
    Returns ``(id, tokens array<string>, n_tokens)``; output volume ≈
    input volume — at 100 TB this writes straight to the training-shard
    sink (sequence packing consumes exactly this shape). Wordless
    documents are excluded, like unigram_segment.

    ``seg`` is the pretrained ``(word, toks)`` table from
    :func:`unigram_model`; when given, zero training jobs run here."""
    if seg is None:
        _, seg = unigram_model(
            df, text_col, n_iters, max_piece_len, top_k, word_pattern
        )
    dim = seg.select("word", F.reverse("toks").alias("pieces"))
    words = df.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(word_pattern), 0)
        ).alias("pos", "word"),
    )
    assembled = (
        words.join(F.broadcast(dim), "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "pieces"))),
                    lambda s: s["pieces"],
                )
            ).alias("tokens")
        )
    )
    return assembled.select(id_col, "tokens", F.size("tokens").alias("n_tokens"))
