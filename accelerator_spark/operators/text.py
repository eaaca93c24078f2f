"""Text-analysis operators for corpus curation (north-star extension):
language-ID (n-gram/stopword evidence), quality scoring, token counting,
fingerprinting. JVM-side expressions except where the transform
genuinely needs Python's codecs (fix_mojibake — one Arrow map stage).
Column-level API so they compose into any pipeline step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import md5_long
from .dedup import fingerprint, norm_text

STOPWORDS = {
    "en": ["the", "a", "of", "and", "is", "to", "in"],
    "es": ["el", "la", "de", "y", "es", "en", "un"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "est", "un", "dans"],
}


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    # split('') yields [''] — empty/whitespace-only text has 0 tokens,
    # not 1 (review r3: empty docs were charged a phantom token in
    # packing, quality features, and shingle candidates)
    return F.when(col.rlike(r"\S"), F.size(tokens(col))).otherwise(F.lit(0))


BPE_TOKEN_RX = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token estimate: alnum runs + each punctuation char as
    its own token (a cheap regex proxy for BPE counts). Uses
    regexp_extract_all with an RE2-safe pattern so the DuckDB oracle can
    run the identical regex."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RX), F.lit(0)))


def stopword_evidence(col: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(F.lower(col)), lambda t: t.isin(*words)))


def lang_scores(col: Column) -> Column:
    """Map of lang -> stopword evidence count."""
    return F.map_from_arrays(
        F.lit(list(STOPWORDS)),
        F.array(*[stopword_evidence(col, l) for l in STOPWORDS]),
    )


def predict_lang(col: Column, min_evidence: int = 2) -> Column:
    """argmax over lang_scores with deterministic tie-break (lang name)."""
    pairs = F.array(*[
        F.struct(stopword_evidence(col, l).alias("n"), F.lit(l).alias("lang"))
        for l in sorted(STOPWORDS)
    ])
    best = F.array_max(pairs)
    return F.when(best["n"] >= min_evidence, best["lang"]).otherwise(F.lit("unk"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append standard quality-scoring features."""
    t = F.col(text_col)
    toks = tokens(t)
    # token_count, not size(tokens): split('') is [''] so empty/
    # whitespace-only docs counted a phantom token and quality_score
    # KEPT them (review r4 — this function missed the r3 sweep)
    n_tok = token_count(t)
    n_chars = F.length(t)
    return (
        df.withColumn("q_n_tokens", n_tok)
        .withColumn("q_n_chars", n_chars)
        # true mean token length: non-whitespace chars / tokens. The old
        # (n_chars - n_tok + 1)/n_tok closed form assumed exactly one
        # separating space and no leading/trailing whitespace — ' a '
        # scored 3.0 instead of 1.0 and empty docs scored 1.0 instead of
        # 0.0 (review r5)
        .withColumn("q_avg_token_len",
                    F.round(F.length(F.regexp_replace(t, r"\s", "")) /
                            F.greatest(n_tok, F.lit(1)), 4))
        .withColumn("q_punct_ratio",
                    F.round(F.length(F.regexp_replace(t, r"[^\p{Punct}]", "")) /
                            F.greatest(n_chars, F.lit(1)), 4))
        .withColumn("q_digit_ratio",
                    F.round(F.length(F.regexp_replace(t, r"[^0-9]", "")) /
                            F.greatest(n_chars, F.lit(1)), 4))
        .withColumn("q_stopword_ratio",
                    F.round(stopword_evidence(t, "en") / F.greatest(n_tok, F.lit(1)), 4))
        .withColumn("q_uniq_token_ratio",
                    F.round(F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1)), 4))
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  min_tokens: int = 5, max_punct: float = 0.3,
                  min_uniq: float = 0.2) -> DataFrame:
    """Boolean keep/drop + reason, the filter stage of a curation
    pipeline."""
    feat = quality_features(df, text_col)
    reason = (
        F.when(F.col("q_n_tokens") < min_tokens, F.lit("too_short"))
        .when(F.col("q_punct_ratio") > max_punct, F.lit("too_punct"))
        .when(F.col("q_uniq_token_ratio") < min_uniq, F.lit("too_repetitive"))
    )
    return feat.withColumn("q_drop_reason", reason) \
               .withColumn("q_keep", reason.isNull())


def rolling_fingerprint(col: Column, window: int = 8) -> Column:
    """Winnowing-style document fingerprint: min over the md5_long
    hashes of the token stream's rolling windows (deterministic)."""
    toks = tokens(norm_text(col))
    windows = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - window, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, window)),
    )
    return F.array_min(F.transform(windows, md5_long))


def pack_sequences(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", budget: int = 512,
                   buckets: int = 32) -> DataFrame:
    """Assign each document to a fixed-token-budget training sequence:
    (bucket, seq_id, seq_start). The packing rule is contiguous greedy —
    docs are laid out in deterministic order and a sequence boundary
    falls every ``budget`` tokens; a doc belongs to the sequence its
    START offset lands in (docs may straddle a boundary; the trainer's
    loader decides whether to split or pad, this operator decides
    placement).

    Scale design: a GLOBAL greedy pack is a single-partition window — a
    non-starter. Instead docs are md5-bucketed into ``buckets``
    independent packing streams and packed within each: one hash
    exchange + a per-bucket sort, both bounded by corpus/buckets. Set
    buckets ~ k×cores on a cluster (32 matches the local harness). The
    md5 bucket and the (bucket, id) order depend only on the id values,
    so placement is reproducible across runs, partitionings and cluster
    sizes — rebuilding the corpus yields byte-identical sequences, which
    is what makes training runs comparable.
    """
    from pyspark.sql import Window
    from .partition import _md5_bucket

    if budget <= 0 or buckets <= 0:
        # fail at call time, not as a NULL seq_id / % 0 mid-stage —
        # the same rule chunk_tokens and frame_sample_plan follow
        # (review r5)
        raise ValueError(
            f"pack_sequences: budget {budget} and buckets {buckets} "
            "must be >= 1")
    nt = token_count(F.col(text_col))
    w = (Window.partitionBy("bucket").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        df.withColumn("bucket", _md5_bucket(id_col, buckets))
        .withColumn("n_tokens", nt)
        .withColumn("seq_start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .withColumn("seq_id", F.floor(F.col("seq_start") / budget))
    )


# RE2-safe patterns (no backrefs/lookaround) so the DuckDB oracle can run
# the IDENTICAL regex — the same property BPE_TOKEN_RX relies on.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}
# order matters: emails contain dots+digits, so redact them before ipv4;
# phone/ipv4 cannot overlap each other.
PII_ORDER = ["email", "phone", "ipv4"]


def pii_counts(col: Column) -> Column:
    """Map kind -> number of PII matches in the column (pre-redaction)."""
    return F.map_from_arrays(
        F.lit(list(PII_ORDER)),
        F.array(*[
            F.size(F.regexp_extract_all(col, F.lit(PII_PATTERNS[k]), F.lit(0)))
            for k in PII_ORDER
        ]),
    )


def redact_pii(col: Column) -> Column:
    """Replace emails / NANP-style phone numbers / IPv4s with typed
    placeholder tokens. One JVM-side regexp_replace per kind, applied in
    PII_ORDER (email first — its pattern can contain digit-dot runs an
    ipv4 pattern would half-match). Curation pipelines run this before
    any text leaves the controlled zone; at 100 TB it is a pure
    map-stage expression (no shuffle, whole-stage codegen)."""
    out = col
    for k in PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[k], f"<{k.upper()}>")
    return out


def clean_lines(df: DataFrame, text_col: str = "text",
                min_words: int = 5) -> DataFrame:
    """C4-style line-level cleaning: split the document on newlines, keep
    lines with >= min_words whitespace words, rejoin. Appends
    ``lines_in`` / ``lines_kept`` / cleaned ``text_clean``.

    Scale: pure per-row array expressions (split/filter/concat) — no
    shuffle, no UDF; the whole stage pipelines inside the scan."""
    t = F.col(text_col)
    lines = F.split(t, r"\n")
    # token_count carries the empty-line guard (split('') is ['']): a
    # blank line has 0 words, so min_words=1 drops it (review r4; r5
    # deduplicated the inline copy of the recipe so tokenization fixes
    # can't drift apart)
    kept = F.filter(lines, lambda ln: token_count(ln) >= min_words)
    return (
        df.withColumn("lines_in", F.size(lines))
        .withColumn("lines_kept", F.size(kept))
        .withColumn("text_clean", F.concat_ws("\n", kept))
    )


def unigram_logprob(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", ndigits: int = 4) -> DataFrame:
    """Per-document mean ln-probability under the corpus's own unigram
    LM — the classic cheap quality proxy (CCNet-style: a doc of rare /
    never-repeated tokens scores low). Returns id_col, n_tokens,
    avg_logprob.

    Plan shape (2 shuffles, no driver data):
      1. explode tokens -> groupBy(token) vocabulary counts;
      2. re-join the token stream to the vocabulary on token (AQE
         broadcasts the vocab while it fits; beyond that it degrades to
         a shuffle join — both sides are already token-partitioned from
         step 1's exchange) -> groupBy(doc) mean.
    The corpus-total token count is a 1-row broadcast joined in, never
    a collect()."""
    toks = (
        df.select(id_col, F.explode(tokens(F.col(text_col))).alias("tok"))
        # split('') is ['']: without this, every empty doc injects a ''
        # pseudo-token that inflates the vocabulary and corpus_n and
        # scores the empty doc as a real one (review r4). Empty docs
        # have no tokens and are absent from the output.
        .filter(F.col("tok") != "")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    total = vocab.agg(F.sum("tf").cast("double").alias("corpus_n"))
    scored = (
        toks.join(vocab, "tok")
        .join(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("tf") / F.col("corpus_n"))), ndigits)
            .alias("avg_logprob"),
        )
    )
    return scored


__all__ = [
    "tokens", "token_count", "bpe_ish_token_count", "stopword_evidence",
    "lang_scores", "predict_lang", "quality_features", "quality_score",
    "rolling_fingerprint", "fingerprint", "norm_text", "STOPWORDS",
    "pack_sequences", "pii_counts", "redact_pii", "clean_lines",
    "unigram_logprob", "PII_PATTERNS",
    "hashed_bow_score", "chunk_tokens",  # defined below
    "canonicalize_url", "dedup_lines_corpus",
]


def hashed_bow_score(df: DataFrame, text_col: str = "text"):
    """Hashed-bag-of-words linear scorer (fastText-style shape): tokens
    hash (md5, 28-bit) into 64 buckets; bucket weights are a
    deterministic integer function in [-6, 6]; a doc's score is the mean
    token weight. Adds integer ``wsum`` (exact — engines agree
    bit-for-bit), ``n_toks``, and double ``score`` = wsum/(6·n_toks) in
    [-1, 1].

    Map-only: no shuffle; a trained model swaps the weight expression
    for a broadcast weight-vector lookup with the same plan."""
    # tokens() + a ''-filter: split('') is [''], which scored empty docs
    # with the weight of the empty string and n_toks=1 (review r4)
    toks = F.filter(tokens(F.lower(F.col(text_col))),
                    lambda t: t != F.lit(""))
    wsum = F.aggregate(
        F.transform(
            toks,
            lambda t: (F.conv(F.substring(F.md5(t), 1, 7), 16, 10)
                       .cast("long") % 64) % 13 - 6,
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    n_toks = F.size(toks)
    return (
        df.withColumn("wsum", wsum)
        .withColumn("n_toks", n_toks)
        .withColumn("score",
                    F.when(n_toks > 0,
                           F.col("wsum") / (6.0 * F.col("n_toks"))))
    )


def chunk_tokens(df: DataFrame, text_col: str = "text",
                 size: int = 50, stride: int = 40,
                 carry: list[str] | None = None) -> DataFrame:
    """Fixed-size token chunking with overlap (RAG / context-window
    prep): one output row per chunk with ``chunk_index`` and the
    ``chunk_toks`` token array. n_chunks = 1 + ceil((n-size)/stride)
    for n > size, else 1 — every token lands in ≥1 chunk.

    Map-only sequence+explode+slice; chunk count is linear in tokens.
    Empty / whitespace-only / NULL documents emit ZERO chunks — split('')
    is [''], which charged them a phantom one-empty-token chunk
    (review r5: the r3/r4 empty-doc sweep missed this operator)."""
    if stride > size:  # not assert: survives python -O (ADVICE r3)
        raise ValueError(
            f"stride {stride} > size {size} would skip tokens between chunks")
    if stride <= 0 or size <= 0:
        # fail at call time, not as a DIVIDE_BY_ZERO mid-stage (review r4)
        raise ValueError(
            f"chunk_tokens: size {size} and stride {stride} must be >= 1")
    toks = tokens(F.col(text_col))
    n = token_count(F.col(text_col))
    n_chunks = (F.when(n == 0, F.lit(0))
                .when(n <= size, F.lit(1))
                .otherwise(F.ceil((n - size) / F.lit(float(stride)))
                           .cast("long") + 1))
    keep = carry if carry is not None else [c for c in df.columns if c != text_col]
    d = df.select(*keep, toks.alias("__toks"), n_chunks.alias("__nc"))
    return (
        d.select(
            *keep,
            # sequence(0, -1) DESCENDS in Spark — an empty-doc row must
            # explode an empty array, not [0, -1]
            F.explode(F.when(
                F.col("__nc") > 0,
                F.sequence(F.lit(0), (F.col("__nc") - 1).cast("int")))
                .otherwise(F.array().cast("array<int>"))).alias("chunk_index"),
            "__toks",
        )
        .withColumn("chunk_toks",
                    F.slice("__toks", F.col("chunk_index") * stride + 1, size))
        .drop("__toks")
    )


def canonicalize_url(col: Column) -> Column:
    """Canonical URL form for URL-level dedup (the first dedup pass of
    a web-crawl curation pipeline — the same page arrives under many
    textual URLs): lowercase scheme+authority, strip default ports
    (:80 http, :443 https), drop the #fragment, remove tracking query
    params (utm_*, ref, fbclid, gclid), SORT the surviving params,
    drop an empty query and a trailing path slash (including the lone
    root slash, so 'http://x.com' == 'http://x.com/'). Path case is
    preserved (paths are case-sensitive; only the authority is not).

    JVM regexp/array expressions end to end — map-only, no UDF; every
    step replays in DuckDB (regexp_replace / list_filter / list_sort),
    so url-dedup results are oracle-gated like the text operators."""
    u = F.regexp_replace(F.trim(col), r"#.*$", "")  # fragment first
    head = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    rest = u.substr(F.length(head) + 1, F.length(u))
    h = F.lower(head)
    h = F.when(h.startswith("http://"),
               F.regexp_replace(h, r":80$", "")).otherwise(h)
    h = F.when(h.startswith("https://"),
               F.regexp_replace(h, r":443$", "")).otherwise(h)
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.when(F.length(rest) > F.length(path),
                   rest.substr(F.length(path) + 2, F.length(rest))
                   ).otherwise(F.lit(""))
    params = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: ~(p.rlike(r"^(utm_[^=]*|ref|fbclid|gclid)=") | (p == ""))))
    # UNCONDITIONAL trailing-slash strip: the old len(path)>1 guard kept
    # a lone '/' so 'http://x.com' and 'http://x.com/' — the single most
    # common duplicate pair — canonicalized differently (review r5)
    path2 = F.regexp_replace(path, r"/$", "")
    newq = F.array_join(params, "&")
    return F.concat(
        h, path2,
        F.when(newq != "", F.concat(F.lit("?"), newq)).otherwise(F.lit("")))


def dedup_lines_corpus(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       min_line_len: int = 1) -> DataFrame:
    """Corpus-wide line deduplication (the C4 rule clean_lines does NOT
    cover: any line occurring verbatim in more than one place is kept
    only at its FIRST occurrence — ordered by (id, line position) — and
    removed everywhere else; boilerplate headers/footers repeated across
    a crawl disappear).

    ``min_line_len``: lines whose TRIMMED length is below this are
    exempt from dedup and always kept in place (default 1 keeps blank
    lines). Published line-dedup practice restricts the rule to
    substantial spans — C4 (Raffel et al. 2020, §2.2) dedups
    three-sentence spans, not every verbatim line — so without a
    threshold the first document keeps its blank lines and every later
    document loses all of theirs (VERDICT r4 #5). Raise it (e.g. 30) to
    exempt one-word/short lines too.

    Distributed shape: explode lines with their in-doc position, one
    shuffle on the line's md5 fingerprint to find each line's global
    first occurrence (min struct — partial-aggregable), keep rows that
    ARE their line's first occurrence, then one shuffle back on the doc
    id to reassemble text in position order. No windows over the whole
    corpus; both aggs combine map-side.

    Returns (id_col, lines_in, lines_kept, text_dedup) — one row per
    INPUT document: a doc whose every line was deduplicated elsewhere
    appears with lines_kept=0 and text_dedup='' (left join + coalesce;
    ADVICE r4)."""
    lines = (df.select(
        F.col(id_col),
        # NULL text ≡ '' (one empty line): split(NULL) is NULL and
        # posexplode(NULL) emits NOTHING, which silently deleted
        # NULL-text documents from the one-row-per-input-doc contract
        # (review r5)
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")),
                             r"\n"))
         .alias("_pos", "_line")))
    exempt = F.length(F.trim(F.col("_line"))) < min_line_len
    dedupable = lines.filter(~exempt)
    keyed = dedupable.withColumn("_fp", F.md5(F.col("_line")))
    first = (keyed.groupBy("_fp")
             .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                 F.col("_pos").alias("p"))).alias("_first")))
    kept = (keyed.join(first, "_fp")
            .filter((F.col(id_col) == F.col("_first.i"))
                    & (F.col("_pos") == F.col("_first.p")))
            .select(id_col, "_pos", "_line")
            .unionByName(lines.filter(exempt)))
    kept_agg = (kept.groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("lines_kept"),
                     F.concat_ws("\n", F.array_sort(F.collect_list(
                         F.struct("_pos", "_line"))).getField("_line"))
                     .alias("text_dedup")))
    return (lines.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("lines_in"))
            .join(kept_agg, id_col, "left")
            .select(id_col, "lines_in",
                    F.coalesce("lines_kept", F.lit(0)).alias("lines_kept"),
                    F.coalesce("text_dedup", F.lit("")).alias("text_dedup")))


def _fix_mojibake_one(s: str, max_passes: int = 3):
    """(fixed_text, n_passes) for one string — ftfy's core heuristic:
    text whose characters, written back out as latin-1/cp1252 bytes,
    form VALID UTF-8 that differs from the input was almost certainly
    UTF-8 misdecoded under that 8-bit codec ('caf\\u00c3\\u00a9' ->
    'caf\\u00e9'); legitimate single-byte text fails the UTF-8 decode
    and passes through untouched (a lone \\u00e9 is an invalid UTF-8
    lead byte). Repeats for the double-encoded case, bounded by
    ``max_passes``. cp1252 is tried first (the Windows superset maps
    the \\u0080-\\u009f block real mojibake lands in); latin-1 second."""
    passes = 0
    while passes < max_passes:
        fixed = None
        for codec in ("cp1252", "latin-1"):
            try:
                candidate = s.encode(codec).decode("utf-8")
            except (UnicodeEncodeError, UnicodeDecodeError):
                continue
            if candidate != s:
                fixed = candidate
            break  # codec applied cleanly; don't double-try latin-1
        if fixed is None:
            break
        s = fixed
        passes += 1
    return s, passes


def fix_mojibake(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 max_passes: int = 3) -> DataFrame:
    """Repair UTF-8-misdecoded text at corpus scale (r8): scraped
    corpora are full of 'Ã©'-for-'é' mojibake (UTF-8 bytes decoded as
    latin-1/cp1252 somewhere upstream), and exact/near dedup treats
    the broken and clean variants as different documents. One Arrow
    map stage emits (id, fixed text, n_passes): n_passes=0 rows were
    clean (including ALL pure-ASCII text, which short-circuits),
    1 = single mojibake, 2+ = the double-encoded horror. No shuffle."""
    from pyspark.sql import types as T

    from .arrowmap import map_text_rows

    def per_row(s):
        if s is None:
            return None, 0
        if s.isascii():
            return s, 0  # nothing to repair
        return _fix_mojibake_one(s, max_passes)

    return map_text_rows(
        df, per_row,
        [T.StructField("fixed_text", T.StringType(), True),
         T.StructField("mojibake_passes", T.IntegerType(), True)],
        text_col, id_col)


_KEEP_CONTROLS = frozenset("\n\t\r")


def _normalize_one(s: str, form: str):
    """(normalized, changed) for one string: canonical Unicode
    normalization (``form``) followed by the scraped-text cleanup a
    tokenizer wants — Cc controls dropped (newline/tab/CR kept), Cf
    format characters dropped (zero-width spaces/joiners, BOM, bidi
    marks), exotic Zs spaces folded to ' ', Zl/Zp separators folded
    to newline."""
    import unicodedata

    out = unicodedata.normalize(form, s)
    # ASCII fast path — but DEL (\x7f) is Cc too, not just c < ' '
    if out.isascii() and not any(
            (c < " " or c == "\x7f") and c not in _KEEP_CONTROLS
            for c in out):
        return out, out != s
    cleaned = []
    for ch in out:
        cat = unicodedata.category(ch)
        if cat == "Cc":
            if ch in _KEEP_CONTROLS:
                cleaned.append(ch)
        elif cat == "Cf":
            pass
        elif cat == "Zs":
            cleaned.append(" ")
        elif cat in ("Zl", "Zp"):
            cleaned.append("\n")
        else:
            cleaned.append(ch)
    res = "".join(cleaned)
    return res, res != s


def normalize_unicode(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      form: str = "NFC") -> DataFrame:
    """Unicode normalization at corpus scale (r9): scraped text mixes
    precomposed and decomposed accents (NFC vs NFD — exact and
    MinHash dedup see them as different documents), zero-width
    characters that split tokens invisibly, non-breaking/ideographic
    spaces, and stray C0 controls. One Arrow map stage emits (id,
    text_norm, changed); ``form`` is NFC (default, canonical-exact)
    or NFKC (also folds compatibility variants: fullwidth forms,
    ligatures). The NFC path is cross-checked against DuckDB's
    utf8proc ``nfc_normalize`` by the oracle gate — two independent
    Unicode implementations agreeing on the same corpus. No
    shuffle."""
    from pyspark.sql import types as T

    from .arrowmap import map_text_rows

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"form must be NFC/NFKC/NFD/NFKD, got {form!r}")

    def per_row(s):
        if s is None:
            return None, None
        return _normalize_one(s, form)

    return map_text_rows(
        df, per_row,
        [T.StructField("text_norm", T.StringType(), True),
         T.StructField("changed", T.BooleanType(), True)],
        text_col, id_col)


# sentence boundary: whitespace after [.!?] (closing quotes/brackets
# allowed in between), NOT after a known abbreviation, and only when
# something sentence-initial follows. Java regex (bounded lookbehind).
_SENT_BOUNDARY = (
    r"(?<=[.!?][\"')\]]{0,2})"
    r"(?<!\b(?:Dr|Mr|Ms|Jr|Sr|St|vs|etc|Inc|Prof|Mrs)\.)"
    r"(?<!\b[A-Z]\.)"
    r"\s+"
    r"(?=[\"'(\[]?[A-Z0-9])")


def split_sentences(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Rule-based sentence segmentation, ENTIRELY JVM-side (no Python
    in the hot path): one ``split`` + ``posexplode`` inside
    whole-stage codegen. The boundary is whitespace after ./!/? —
    optionally through closing quotes/brackets — not preceded by a
    common abbreviation or a single-initial ('J. Smith'), and followed
    by a sentence-initial character. The deliberately simple tier:
    corpus chunking and packing want cheap, deterministic boundaries
    at scan speed, not a trained segmenter. Emits (id, sent_idx,
    sentence); rows with NULL text produce no rows (explode
    semantics)."""
    return (df
            .select(id_col,
                    F.posexplode(F.split(F.col(text_col),
                                         _SENT_BOUNDARY))
                    .alias("sent_idx", "sentence"))
            .filter(F.trim("sentence") != "")
            .select(id_col, "sent_idx", "sentence"))


def bigram_logprob(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", lam: float = 0.75,
                   ndigits: int = 4) -> DataFrame:
    """Per-document mean ln-probability under the corpus's own
    INTERPOLATED BIGRAM LM — the next quality rung above
    ``unigram_logprob`` (CCNet-style perplexity filtering uses n-gram
    context; a doc of individually-common but never-adjacent tokens
    scores low here and normal there):

        P(w2|w1) = lam * c(w1 w2)/c(w1) + (1-lam) * c(w2)/N

    Returns id_col, n_bigrams, avg_logprob2; docs with fewer than two
    tokens have no bigrams and are absent (the unigram operator's
    empty-doc contract). Plan shape (no window, no driver data):
    bigrams pair JVM-side inside each token array (arrays_zip of two
    slices) BEFORE the explode, so pairing costs no shuffle; then the
    bigram-vocab and unigram-vocab joins (AQE broadcasts them while
    they fit) and one final per-doc agg."""
    ts = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    base = (df.select(id_col, ts.alias("ts"))
            .filter(F.size("ts") >= 2))
    pairs = base.select(
        id_col,
        F.explode(F.arrays_zip(
            F.expr("slice(ts, 1, size(ts) - 1)").alias("w1"),
            F.expr("slice(ts, 2, size(ts) - 1)").alias("w2"))).alias("bg")
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uni = (df.select(F.explode(ts).alias("tok"))
           .groupBy("tok").agg(F.count(F.lit(1)).alias("c1")))
    total = uni.agg(F.sum("c1").cast("double").alias("corpus_n"))
    p = (F.lit(lam) * F.col("c2") / F.col("c1_w1")
         + (F.lit(1.0) - F.lit(lam)) * F.col("c1_w2") / F.col("corpus_n"))
    return (pairs
            .join(big, ["w1", "w2"])
            .join(uni.select(F.col("tok").alias("w1"),
                             F.col("c1").alias("c1_w1")), "w1")
            .join(uni.select(F.col("tok").alias("w2"),
                             F.col("c1").alias("c1_w2")), "w2")
            .join(F.broadcast(total))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.avg(F.log(p)), ndigits).alias("avg_logprob2")))
