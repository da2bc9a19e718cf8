"""Text analysis operators over document tables: token stats, quality
scores, language-ID heuristic, fingerprinting. All native expressions —
string ops stay JVM-side, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# a small English stopword list for the n-gram/stopword heuristics
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]


def _tokens(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc token/char statistics: → (doc_id, n_chars, n_tokens,
    avg_token_len, ws_ratio)."""
    toks = _tokens(text_col)
    n_tokens = F.size(toks)
    total_tok_chars = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (total_tok_chars / n_tokens.cast("double")).alias("avg_token_len"),
        (
            (F.length(text_col) - F.length(F.replace(F.col(text_col), F.lit(" "), F.lit(""))))
            / F.length(text_col).cast("double")
        ).alias("ws_ratio"),
    )


def stopword_ratio(
    docs: DataFrame,
    stopwords: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fraction of tokens that are in the stopword list: → (doc_id, sw_ratio).
    Native higher-order filter — no explode, no shuffle."""
    sw = stopwords or EN_STOPWORDS
    toks = _tokens(text_col)
    n_sw = F.size(F.filter(toks, lambda t: t.isin(sw)))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        (n_sw / F.size(toks).cast("double")).alias("sw_ratio"),
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Composite quality heuristic in [0,1]: length score × stopword presence
    × mean-token-length plausibility. → (doc_id, quality).

    Every factor is a per-row expression, so the whole score is ONE
    projection over one scan — no token_stats⋈stopword_ratio self-join
    (which would scan the corpus twice and shuffle for the equi-join)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        _quality_expr(_tokens(text_col)).alias("quality"),
    )


def _quality_expr(toks: Column) -> Column:
    """The quality_score composite as a single reusable column expression."""
    n_tokens = F.size(toks)
    total_tok_chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    avg_token_len = total_tok_chars / n_tokens.cast("double")
    sw_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
        / n_tokens.cast("double")
    )
    len_score = F.least(n_tokens / F.lit(64.0), F.lit(1.0))
    tok_score = F.when((avg_token_len >= 2.5) & (avg_token_len <= 8.0), 1.0).otherwise(0.5)
    sw_score = F.least(sw_ratio * 5.0, F.lit(1.0))
    return len_score * tok_score * sw_score


def language_id(
    docs: DataFrame,
    lang_stopwords: dict[str, list[str]] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Stopword-vote language ID: per language, count tokens in that
    language's marker list; predict the argmax (ties → lexicographic).
    → (doc_id, predicted_lang, score)."""
    markers = lang_stopwords or {
        "en": ["the", "and", "of", "to", "a"],
        "de": ["der", "die", "und", "das", "ist"],
        "fr": ["le", "la", "et", "les", "des"],
        "es": ["el", "la", "los", "que", "y"],
        "zh": ["de", "shi", "le", "zai", "he"],
    }
    pred, best = _lang_pred_exprs(_tokens(text_col), markers)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        pred.alias("predicted_lang"),
        best.alias("score"),
    )


def _lang_pred_exprs(toks: Column, markers: dict[str, list[str]]):
    """(predicted_lang, score) column expressions for the stopword vote.
    Catalyst common-subexpression-eliminates the repeated per-language
    filters between `best` and the coalesce chain."""
    n = F.size(toks).cast("double")
    slang = {
        lang: F.size(F.filter(toks, lambda t: t.isin(words))) / n
        for lang, words in markers.items()
    }
    langs = sorted(markers)
    best = F.greatest(*[slang[lang] for lang in langs])
    pred = F.coalesce(
        *[F.when(slang[lang] == best, F.lit(lang)) for lang in langs]
    )
    return pred, best


# GPT-2-style pre-tokenizer classes: letter runs, digit runs, single
# non-alphanumeric marks. Counts approximate BPE token counts well enough
# for corpus budgeting without a vocabulary.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Corpus token budgeting: → (doc_id, ws_tokens, bpe_tokens).
    ``ws_tokens`` = whitespace split count; ``bpe_tokens`` = BPE-ish
    pre-tokenizer match count (BPE_TOKEN_RE). Native regexp — JVM-side,
    one scan, no Python."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(_tokens(text_col)).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), 0)).alias(
            "bpe_tokens"
        ),
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Normalized-content fingerprint: md5 of lowercased, whitespace-collapsed
    text. → (doc_id, fingerprint). The canonical key for fuzzy-exact dedup."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm.cast("binary")).alias("fingerprint"),
    )


# winnowing rolling-hash parameters: polynomial base/modulus chosen so every
# intermediate (acc·B + char) stays far below 2^63 — identical arithmetic is
# reproducible in any engine with 64-bit integers (the DuckDB oracle runs the
# same recurrence)
WINNOW_BASE = 257
WINNOW_MOD = (1 << 31) - 1


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003):
    polynomial-hash every k-gram of the lowercased whitespace-collapsed
    text, then keep the MINIMUM hash of each sliding window of ``window``
    consecutive k-grams; the distinct selected hashes are the document's
    fingerprint set (guaranteed to share a fingerprint with any document
    that has a matching substring of length ≥ k+window−1).

    → (doc_id, fp) — one row per selected fingerprint.

    Arrow-batched numpy kernel over ``mapInPandas`` — a deliberate engine
    choice: the pure higher-order-function formulation (nested
    transform∘aggregate over characters) runs in Spark's INTERPRETED
    expression path and measured ~6 s/doc on 300-char documents — three
    orders slower than this kernel, which is a straight vectorized map:
    zero shuffles, no per-row Python, and bit-identical integer math to
    the DuckDB oracle (modular congruence makes the vectorized polynomial
    equal to the per-step-mod recurrence). Scales as a map over document
    batches — the 100 TB cost profile of a scan.

    A corpus that scans on fewer tasks than the cluster has cores (one
    60 MB file at soak scale) would run the whole kernel on a handful of
    tasks, so the input goes through ``session.scan_parallel`` first
    (no-op whenever the scan already fans out)."""
    import re

    from periodicity_spark.session import scan_parallel

    docs = scan_parallel(docs, key=id_col)

    B, M, kk, ww = WINNOW_BASE, WINNOW_MOD, k, window
    idc, txc = id_col, text_col
    powers = [pow(B, kk - 1 - j, M) for j in range(kk)]

    def _batches(it):
        import numpy as np
        import pandas as pd

        ws = re.compile(r"\s+")
        for pdf in it:
            out_ids: list = []
            out_fps: list = []
            for did, txt in zip(pdf[idc], pdf[txc]):
                if txt is None:
                    continue
                s = ws.sub(" ", txt).lower()
                n = len(s)
                if n < kk:
                    continue
                # one uint32 code point per char, vectorized — equals ord()
                # per char (Python str has no surrogate pairs); fromiter's
                # per-char Python loop was the kernel's hottest line at sf1
                codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
                h = np.zeros(n - kk + 1, dtype=np.int64)
                for j, p in enumerate(powers):
                    h += codes[j : j + len(h)] * p
                h %= M
                if len(h) <= ww:
                    mins = np.array([h.min()])
                else:
                    mins = np.lib.stride_tricks.sliding_window_view(h, ww).min(axis=1)
                fps = np.unique(mins)
                out_ids.extend([did] * len(fps))
                out_fps.extend(fps.tolist())
            yield pd.DataFrame({"doc_id": pd.Series(out_ids, dtype="int64"),
                                "fp": pd.Series(out_fps, dtype="int64")})

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _batches, "doc_id long, fp long"
    )


def _ngram_array(toks: Column, n: int) -> Column:
    """Array of space-joined word n-grams (empty when fewer than n tokens).
    The n >= 2 guard matters: sequence(1, size-k) DESCENDS when size-k < 1,
    which would index off the end of the token array."""
    starts = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(
        starts,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _modal_count(sorted_arr: Column) -> Column:
    """Count of the most frequent element of a SORTED array — the max run
    length of equal adjacent elements. Single native aggregate, no shuffle."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def merge(acc, x):
        run = F.when(acc["prev"] == x, acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(sorted_arr, zero, merge, lambda acc: acc["best"])


def _duplicated_mass(sorted_arr: Column) -> Column:
    """Number of elements of a SORTED array whose value occurs more than
    once (Σ count over values with count ≥ 2). When a run reaches length 2
    both its members join the duplicated mass; each further member adds 1."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("dup"),
    )

    def merge(acc, x):
        same = acc["prev"] == x
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1))
        dup = acc["dup"] + (
            F.when(same & (acc["run"] == 1), 2).when(same, 1).otherwise(0)
        )
        return F.struct(x.alias("prev"), run.alias("run"), dup.alias("dup"))

    return F.aggregate(sorted_arr, zero, merge, lambda acc: acc["dup"])


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, "Scaling
    Language Models", §A1.1 repetition filters) — the standard LLM-corpus
    filter for template/boilerplate text:

    → (doc_id, n_tokens, distinct_ratio, top_bigram_frac, dup_trigram_frac)

    - ``distinct_ratio``: distinct tokens / tokens (low ⇒ repetitive).
    - ``top_bigram_frac``: occurrences of the modal word 2-gram over all
      2-gram positions (NULL when < 2 tokens).
    - ``dup_trigram_frac``: fraction of 3-gram positions whose 3-gram
      occurs more than once (NULL when < 3 tokens).

    Scale shape: everything is a per-row expression over the token array —
    ONE scan, zero shuffles, zero Python; at 100 TB this is a pure map with
    cost linear in corpus size. (Contrast the explode→groupBy formulation,
    which would shuffle every n-gram of the corpus.)"""
    toks = _tokens(text_col)
    n = F.size(toks)
    big2 = _modal_count(F.array_sort(_ngram_array(toks, 2)))
    dup3 = _duplicated_mass(F.array_sort(_ngram_array(toks, 3)))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n.alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / n.cast("double")).alias("distinct_ratio"),
        F.when(n >= 2, big2 / (n - 1).cast("double")).alias("top_bigram_frac"),
        F.when(n >= 3, dup3 / (n - 2).cast("double")).alias("dup_trigram_frac"),
    )


def lm_score(
    docs: DataFrame,
    model_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Statistical LM quality scoring (the CCNet-style perplexity filter,
    Wenzek et al. 2020, with a bigram model instead of a trained KenLM):
    estimate add-one-smoothed bigram probabilities P(w₂|w₁) = (c₁₂+1)/(c₁+V)
    from ``model_docs`` (default: the scored corpus itself) and score each
    document by its mean bigram log-probability. Unusually low scores ⇒
    gibberish / OOV-heavy text; unusually high ⇒ boilerplate.

    → (doc_id, n_bigrams, avg_logp)   (NULL avg_logp when < 2 tokens)

    Scale shape: the model is two count tables built with map-side-combined
    aggregates (vocabulary-sized, ≪ corpus); scoring explodes each doc's
    bigrams once and equi-joins the count tables (AQE broadcasts them when
    they fit). No Python anywhere."""
    model_docs = model_docs if model_docs is not None else docs
    toks = _tokens(text_col)

    def _bigrams(src: DataFrame, keep_id: bool) -> DataFrame:
        # struct pairs straight from the token array — no join-then-split
        # string round-trip per bigram occurrence
        starts = F.sequence(F.lit(1), F.size(toks) - 1)
        pairs = F.when(
            F.size(toks) >= 2,
            F.transform(
                starts,
                lambda i: F.struct(
                    F.element_at(toks, i).alias("w1"),
                    F.element_at(toks, i + 1).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        cols = [F.col(id_col).alias("doc_id")] if keep_id else []
        return src.select(*cols, F.explode(pairs).alias("_p")).select(
            *(["doc_id"] if keep_id else []),
            F.col("_p.w1").alias("w1"),
            F.col("_p.w2").alias("w2"),
        )

    uni = (
        model_docs.select(F.explode(toks).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab_size = F.broadcast(
        uni.agg(F.count(F.lit(1)).alias("v")).select("v")
    )
    big = (
        _bigrams(model_docs, keep_id=False)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    scored = (
        _bigrams(docs, keep_id=True)
        .join(big, ["w1", "w2"], "left")
        .join(uni, "w1", "left")
        .crossJoin(vocab_size)
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + 1)
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast("double")
            ).alias("_lp"),
        )
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(
            scored.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_bigrams"),
                F.avg("_lp").alias("avg_logp"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "avg_logp",
        )
    )


def contamination(
    eval_docs: DataFrame,
    train_docs: DataFrame,
    k: int = 5,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/eval contamination detection: for each EVAL document, the
    fraction of its winnowing fingerprints that also occur anywhere in the
    TRAIN corpus — the standard decontamination signal for LLM benchmark
    hygiene (substring overlap ≥ k+window−1 chars is guaranteed to share a
    fingerprint; see winnow_fingerprints).

    → (doc_id, n_fp, n_hit, contamination) per eval document.

    Scale shape: both corpora reduce to integer fingerprint tables (a map
    over document batches); the train side is distinct-ed (one shuffle on
    the 8-byte fp) and the overlap is a fp equi-join + per-doc aggregate.
    Nothing quadratic, nothing broadcast-unbounded — AQE broadcasts the
    train fp table only when it measures small."""
    tr = (
        winnow_fingerprints(train_docs, k=k, window=window, id_col=id_col, text_col=text_col)
        .select("fp")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    ev = winnow_fingerprints(
        eval_docs, k=k, window=window, id_col=id_col, text_col=text_col
    )
    return (
        ev.join(tr, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_fp",
            "n_hit",
            (F.col("n_hit") / F.col("n_fp").cast("double")).alias("contamination"),
        )
    )


def top_keywords(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document keyword extraction, tf-idf style: rank each document's
    tokens by (term frequency DESC, document frequency ASC, token ASC) and
    keep the top ``k``. → (doc_id, token, tf, df, rank).

    The (tf↓, df↑) lexicographic order is the tf-idf ordering computed
    ENTIRELY in integers — no log/float scoring, so results are exactly
    reproducible across engines and runs (ties broken by token).

    Scale shape: the tf aggregate shuffles (doc_id, token) with map-side
    combine; the document-frequency table is vocabulary-sized (≪ corpus —
    AQE broadcasts it when it fits, degrades to a shuffle join when not);
    the rank window partitions per document, so no task ever sees more
    than one document's token set.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_tokens(text_col)).alias("token"),
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        tf.join(df_tbl, "token")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "df", "rank")
    )


def curate(
    docs: DataFrame,
    min_quality: float = 0.3,
    min_tokens: int = 16,
    max_top_bigram: float = 0.2,
    allowed_langs: tuple = ("en",),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The end-to-end corpus-curation verdict — the filter chain every
    LLM-corpus pipeline runs (C4 / Gopher / RefinedWeb style): language
    gate, composite quality floor, minimum length, and the modal-bigram
    repetition ceiling, combined into one keep/drop decision per document.

    → (doc_id, keep, quality, predicted_lang, n_tokens, top_bigram_frac).

    All four signals are per-row expressions over the SAME token split, so
    the whole verdict is ONE projection over ONE scan — zero shuffles, no
    joins between the signal stages (the naive composition of the four
    standalone operators would scan the corpus four times and shuffle
    three doc_id joins). Signals are rounded to 6 dp BEFORE thresholding
    so the keep decision is reproducible cross-engine at the same
    precision the per-signal contracts certify. Documents too short to
    assess repetition (< 2 tokens) pass that gate (NULL is not a drop
    reason — the length gate already rejects them)."""
    markers = {
        "en": ["the", "and", "of", "to", "a"],
        "de": ["der", "die", "und", "das", "ist"],
        "fr": ["le", "la", "et", "les", "des"],
        "es": ["el", "la", "los", "que", "y"],
        "zh": ["de", "shi", "le", "zai", "he"],
    }
    toks = _tokens(text_col)
    n = F.size(toks)
    quality = F.round(_quality_expr(toks), 6)
    pred, _score = _lang_pred_exprs(toks, markers)
    big2 = _modal_count(F.array_sort(_ngram_array(toks, 2)))
    top_bigram = F.round(
        F.when(n >= 2, big2 / (n - 1).cast("double")), 6
    )
    keep = (
        pred.isin(*allowed_langs)
        & (quality >= F.lit(float(min_quality)))
        & (n >= F.lit(int(min_tokens)))
        & (F.coalesce(top_bigram <= F.lit(float(max_top_bigram)), F.lit(True)))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        keep.alias("keep"),
        quality.alias("quality"),
        pred.alias("predicted_lang"),
        n.alias("n_tokens"),
        top_bigram.alias("top_bigram_frac"),
    )


def remove_boilerplate(
    docs: DataFrame,
    delim: str = "\n",
    min_doc_frac: float = 0.5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate removal: a line (``delim``-split
    segment) occurring in ≥ max(min_docs, ceil(min_doc_frac·docs-in-group))
    DISTINCT documents of the same ``group_col`` (site/domain/crawl) is
    boilerplate — navigation, cookie banners, footers — and every
    occurrence of it is removed from every document of that group. The
    per-group framing is the published recipe: a line frequent on one site
    is boilerplate there even if globally rare.

    Scale shape (the 100 TB story): explode is a narrow projection;
    frequency counting is two map-side-combinable aggregates on
    (group, line, doc) then (group, line) — never a distinct over the
    corpus; per-group doc totals are a tiny broadcast; the boilerplate
    verdict joins back by (group, line) equi-join (AQE promotes the
    usually-small frequent side to broadcast at runtime); reconstruction
    is ONE groupBy(doc) with an in-row sort_array — order restored from
    the carried position, no window. Empty documents (every line removed)
    are kept with empty text, not dropped.

    → (doc_id, text, n_kept, n_removed): text with boilerplate lines
    removed, delimiter re-joined, original order preserved.
    """
    import re as _re

    frac, mind = float(min_doc_frac), int(min_docs)
    # NULL text coalesces to '' so the doc survives as an empty document
    # (split(NULL) is NULL and posexplode of NULL emits no rows — without
    # the coalesce a NULL-text doc would vanish from the output entirely,
    # contradicting the empty-documents-are-kept contract above)
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("_grp"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(delim))
        ).alias("pos", "line"),
    )
    # exact distinct-doc counts without a distinct(): two combine-friendly
    # aggregates (the first collapses within-doc repeats)
    per_doc = lines.select("_grp", "line", "doc_id").groupBy(
        "_grp", "line", "doc_id"
    ).agg(F.lit(1))
    counts = per_doc.groupBy("_grp", "line").agg(
        F.count(F.lit(1)).alias("_nd")
    )
    totals = docs.groupBy(F.col(group_col).alias("_grp")).agg(
        F.count(F.lit(1)).alias("_ndocs")
    )
    frequent = (
        counts.join(F.broadcast(totals), "_grp")
        .filter(
            F.col("_nd")
            >= F.greatest(F.lit(mind), F.ceil(F.lit(frac) * F.col("_ndocs")))
        )
        .select("_grp", "line", F.lit(True).alias("_freq"))
    )
    flagged = lines.join(frequent, ["_grp", "line"], "left").select(
        "doc_id",
        "pos",
        "line",
        F.coalesce(F.col("_freq"), F.lit(False)).alias("_freq"),
    )
    arr = F.sort_array(F.collect_list(F.struct("pos", "line", "_freq")))
    kept = F.filter(F.col("_arr"), lambda x: ~x["_freq"])
    return (
        flagged.groupBy("doc_id")
        .agg(arr.alias("_arr"))
        .select(
            "doc_id",
            F.array_join(
                F.transform(kept, lambda x: x["line"]), delim
            ).alias("text"),
            F.size(kept).cast("long").alias("n_kept"),
            (F.size("_arr") - F.size(kept)).cast("long").alias("n_removed"),
        )
    )
