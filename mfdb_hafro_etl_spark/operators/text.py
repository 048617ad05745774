"""Text-analysis operators for large-scale training-data pipelines.

No reference counterpart (the driver's extension scope): language-ID
heuristic, quality scoring, token counting, document fingerprinting.
Everything is pure Column algebra over token arrays — JVM-side,
whole-stage codegen — except the winnowing fingerprint table, where
the measured cost of interpreted nested higher-order expressions
justified an Arrow kernel (see winnow_fingerprint_table's docstring;
a parity test pins it byte-identical to the Column formulation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mfdb_hafro_etl_spark.exprcache import column_template

# Tiny per-language marker lists for the language-ID heuristic
# (stopword-overlap scoring; swap for real lists in production).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "y", "es"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "de", "et", "est"],
}

STOPWORDS = ["the", "a", "of", "and", "is", "to", "in"]


def tokens(col: Column | str, sep: str = " ") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, sep)


def token_count(col: Column | str) -> Column:
    """Whitespace token count (the baseline tokenizer; a BPE-ish
    regex tokenizer is token_count_bpe below).

    Computed as separator-count + 1 via a length diff: one string
    pass and zero allocations per token, where size(split(...))
    materializes every token as a fresh string plus an array. Value-
    identical to ``size(tokens(col))`` (split keeps empty tokens, so
    count == spaces + 1; parity pinned in tests)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c) - F.length(F.replace(c, F.lit(" "), F.lit(""))) + 1


def token_count_bpe(col: Column | str) -> Column:
    """BPE-ish sub-word proxy: splits on whitespace AND punctuation
    boundaries, counting letter-runs, digit-runs and symbols
    separately (regex analog of a byte-pair pre-tokenizer).

    The pieces of pad-punctuation-then-split are exactly the maximal
    alnum runs plus the maximal non-space-non-alnum runs. Counted by
    collapsing each run to one sentinel char and length-diffing —
    regexp_count would materialize every matched run (it expands to
    size(regexp_extract_all)), while this builds one output string.
    The sentinel is safe for arbitrary input: a pre-existing \\x01 is
    itself non-space-non-alnum, so it is consumed by the very run
    replacement that emits sentinels. Parity with the array
    formulation pinned in tests."""
    c = F.col(col) if isinstance(col, str) else col
    runs = F.regexp_replace(c, r"[A-Za-z0-9]+|[^\sA-Za-z0-9]+", "\x01")
    return F.length(runs) - F.length(F.replace(runs, F.lit("\x01"), F.lit("")))


def _word_pattern(words: list[str]) -> str:
    """Regex matching any of ``words`` as a whole single-space token
    (bounded by start/end or the literal ' ' separator tokens() uses
    — NOT \\b, which would also fire inside punctuated tokens)."""
    import re as _re

    alts = "|".join(_re.escape(w) for w in words)
    return f"(?<=^| )(?:{alts})(?= |$)"


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Share of whitespace tokens that are stopwords — one
    regexp_count pass (lookaround-bounded alternation) instead of
    split + an array_contains filter HOF per token; value parity
    with the array formulation pinned in tests."""
    c = F.col(col) if isinstance(col, str) else col
    n_stop = F.regexp_count(c, F.lit(_word_pattern(stopwords or STOPWORDS)))
    return n_stop / F.greatest(token_count(c), F.lit(1))


def mean_token_len(col: Column | str) -> Column:
    """Mean whitespace-token length. Sum of token lengths is just
    length(text) minus the separator count, so both terms come from
    the same single replace pass (no split, no concat_ws)."""
    c = F.col(col) if isinstance(col, str) else col
    n_sep = F.length(c) - F.length(F.replace(c, F.lit(" "), F.lit("")))
    total = F.length(c) - n_sep
    return total.cast("double") / F.greatest(n_sep + 1, F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Composite quality heuristic in [0,1]: rewards stopword
    presence and moderate token length, penalizes very short docs —
    the shape of a C4/Gopher-style quality rule, minus the corpus
    tuning."""
    c = F.col(col) if isinstance(col, str) else col
    n = token_count(c)
    sw = stopword_ratio(c)
    mlen = mean_token_len(c)
    len_ok = F.when((n >= 20) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.5))
    wlen_ok = F.when((mlen >= 3) & (mlen <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(F.least(F.lit(1.0), (sw * 2 + len_ok + wlen_ok) / 3), 6)


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Marker-hit count per language (n-gram/stopword heuristic) —
    one regexp_count pass per language over the raw text instead of
    split + a filter HOF per language (same single-pass trade as
    stopword_ratio; parity pinned in tests)."""
    c = F.col(col) if isinstance(col, str) else col
    out = {}
    for lang, markers in LANG_MARKERS.items():
        out[lang] = F.regexp_count(c, F.lit(_word_pattern(markers)))
    return out


def lang_guess(col: Column | str) -> Column:
    """argmax over lang_scores with deterministic tie-break on the
    language code ('en' wins ties only via its alphabetical slot)."""
    scores = lang_scores(col)
    # build struct array (score, lang) and take max — deterministic:
    # ties resolved by lang code ascending via struct comparison
    pairs = F.array(
        *[F.struct(v.alias("score"), F.lit(k).alias("lang")) for k, v in sorted(scores.items())]
    )
    best = F.array_max(F.filter(pairs, lambda p: p["score"] > 0))
    return F.coalesce(best["lang"], F.lit("und"))


def fingerprint(col: Column | str) -> Column:
    """Order-sensitive document fingerprint: md5 over the
    concatenation of per-token md5s (a rolling-hash analog that is
    exactly reproducible in ANSI SQL for the oracle)."""
    toks = tokens(col)
    return F.md5(F.concat_ws("", F.transform(toks, F.md5)))


# Char-trigram profiles for the n-gram language-ID heuristic (tiny,
# hand-picked, public-knowledge marker sets; swap for trained
# profiles in production).
LANG_TRIGRAMS: dict[str, list[str]] = {
    "en": ["the", " th", "ing", "and", " of"],
    "es": [" de", "os ", " la", "ión", " el"],
    "de": ["der", "sch", "ein", "und", "ich"],
    "fr": [" le", "les", "ent", " de", "que"],
}


def _occurrences(c: Column, needle: str) -> Column:
    """Occurrence count of a literal substring via the length/replace
    identity — one JVM expression, reproducible in ANSI SQL."""
    return (F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit("")))) / len(needle)


def lang_guess_ngram(col: Column | str) -> Column:
    """Character-n-gram language ID: score = total occurrences of
    each language's marker trigrams; argmax with deterministic
    struct-ordering tie-break (score, then lang code — the greatest
    code wins ties, mirrored in the SQL oracle). 'und' when no
    marker fires."""
    c = F.col(col) if isinstance(col, str) else col
    pairs = F.array(
        *[
            F.struct(
                sum((_occurrences(c, m) for m in markers), F.lit(0.0)).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, markers in sorted(LANG_TRIGRAMS.items())
        ]
    )
    best = F.array_max(F.filter(pairs, lambda p: p["score"] > 0))
    return F.coalesce(best["lang"], F.lit("und"))


def winnow_fingerprints(
    col: Column | str, k: int = 5, window: int = 4
) -> Column:
    """Winnowing document fingerprints (the MOSS algorithm): hash all
    character k-grams, then keep the minimum hash of every
    ``window``-length sliding window; return the sorted distinct
    selected hashes.

    Guarantees of the scheme: any shared substring of length
    ≥ k+window-1 between two documents yields at least one common
    fingerprint, and fingerprint density is ~2/(window+1) —
    position-robust matching at a fraction of full-shingle cost.

    Pure Column algebra (substr/md5/array ops) — JVM-side, and
    mirrored exactly by the SQL oracle (hashes are the first 8 hex
    digits of md5 as a bigint). Documents shorter than k+window-1
    chars fingerprint to the min over whatever k-grams exist (empty
    array when shorter than k)."""
    c = F.col(col) if isinstance(col, str) else col
    n_grams = F.length(c) - (k - 1)
    # sequence(1, 0) generates a DESCENDING range in Spark — guard
    # short documents to an empty gram list explicitly
    grams = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
            lambda i: c.substr(i, F.lit(k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashes = F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("bigint")
    )
    n_windows = F.size(hashes) - (window - 1)
    mins = F.when(
        n_windows >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_windows, F.lit(1))),
            lambda i: F.array_min(F.slice(hashes, i, window)),
        ),
    ).otherwise(
        # shorter than a full window: keep the global min if any
        F.when(F.size(hashes) > 0, F.array(F.array_min(hashes))).otherwise(
            F.array().cast("array<bigint>")
        )
    )
    return F.array_sort(F.array_distinct(mins))


def _memo_gram_hash(max_entries: int = 500_000):
    """Bounded memo of character-gram → first-8-hex-of-md5 bigint (the
    engine-portable gram hash the winnow/chunk family shares). A text
    corpus has far fewer DISTINCT k-grams than gram POSITIONS
    (vocabulary ≪ length), so memoizing turns the dominant per-position
    hashlib call into a dict hit; the bound caps worker memory at
    ~45 MB even on a high-entropy corpus (cleared, not evicted — a
    full cycle is rare and still correct)."""
    import hashlib as _hl

    cache: dict = {}

    def gh(g: str) -> int:
        v = cache.get(g)
        if v is None:
            if len(cache) >= max_entries:
                cache.clear()
            v = int(_hl.md5(g.encode("utf-8")).hexdigest()[:8], 16)
            cache[g] = v
        return v

    return gh


def winnow_fingerprint_table(
    df, id_col: str, text_col: str, k: int = 5, window: int = 4
):
    """(id, fp) winnowing fingerprints via an Arrow mapInPandas
    kernel — algorithmically IDENTICAL to winnow_fingerprints (same
    md5-hex→int hash, same window mins, same short-doc guard), kept
    as the execution path because nested higher-order Column
    expressions (transform→md5→conv per gram, slice+array_min per
    window) evaluate interpreted per element and measure ~15× slower
    than hashlib in Arrow batches at 5k docs. The Column version
    stays as the expression-level reference; a parity test pins the
    two to byte-identical output.
    """
    import pandas as _pd

    from mfdb_hafro_etl_spark.session import ensure_package_shipped, spread_for_kernel

    ensure_package_shipped(df.sparkSession)

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        gh = _memo_gram_hash()
        for pdf in batches:
            out_ids, out_fps = [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                t = t or ""
                n = len(t) - k + 1
                if n < 1:
                    continue
                hs = [gh(t[j : j + k]) for j in range(n)]
                if len(hs) >= window:
                    mins = {min(hs[j : j + window]) for j in range(len(hs) - window + 1)}
                else:
                    mins = {min(hs)}
                for v in sorted(mins):
                    out_ids.append(did)
                    out_fps.append(v)
            yield _pd.DataFrame({id_col: out_ids, "fp": out_fps})

    src = spread_for_kernel(df.select(id_col, text_col))
    id_type = src.schema[id_col].dataType.simpleString()
    return src.mapInPandas(gen, schema=f"{id_col} {id_type}, fp bigint")


def content_defined_chunks(
    df, id_col: str, text_col: str, k: int = 5, divisor: int = 64
):
    """Content-defined chunking (FastCDC/rsync-style, on text): cut a
    document AFTER every character k-gram whose rolling hash ≡ 0
    (mod ``divisor``) — boundaries are a pure function of LOCAL
    content, so an edit reshapes only its own chunk instead of
    shifting every later boundary (the fixed-size-chunking failure
    mode that breaks RAG-chunk caching and chunk-level dedup).
    Expected chunk length ≈ divisor chars.

    Returns (id, chunk_id, start, length, chunk_hash) — start is
    1-based (SQL substr convention), chunk_hash = md5 of the chunk
    text (the content address a chunk-level dedup/cache keys on).

    Same gram hash as the winnowing family (first 8 hex of md5 as a
    bigint — engine-portable, no RNG), same Arrow-kernel execution
    rationale as winnow_fingerprint_table; the SQL oracle replicates
    boundaries with the identical hash rule. Map-only (the
    spread_for_kernel fan-out fires only on under-split inputs):
    chunking 100 TB is embarrassingly parallel."""
    import hashlib as _hl

    import pandas as _pd

    from mfdb_hafro_etl_spark.session import ensure_package_shipped, spread_for_kernel

    ensure_package_shipped(df.sparkSession)

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        gh = _memo_gram_hash()
        for pdf in batches:
            ids, cids, starts, lens, hashes = [], [], [], [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                t = t or ""
                L = len(t)
                if L == 0:
                    continue
                cuts = sorted(
                    {
                        j + k + 1
                        for j in range(L - k + 1)
                        if gh(t[j : j + k]) % divisor == 0
                    }
                    | {L + 1}
                )
                start = 1
                for cid, cut in enumerate(cuts):
                    if cut <= start:
                        continue
                    chunk = t[start - 1 : cut - 1]
                    ids.append(did)
                    cids.append(cid)
                    starts.append(start)
                    lens.append(len(chunk))
                    hashes.append(_hl.md5(chunk.encode("utf-8")).hexdigest())
                    start = cut
            yield _pd.DataFrame(
                {
                    id_col: ids,
                    "chunk_id": cids,
                    "start": starts,
                    "length": lens,
                    "chunk_hash": hashes,
                }
            )

    src = spread_for_kernel(df.select(id_col, text_col))
    id_type = src.schema[id_col].dataType.simpleString()
    return src.mapInPandas(
        gen,
        schema=f"{id_col} {id_type}, chunk_id int, start int, length int, chunk_hash string",
    )


def bpe_word_freq(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace-tokenized distinct-word frequency table — the ONE
    corpus-scale shuffle BPE training needs. Everything after this
    operates on the vocabulary (distinct words), which is orders of
    magnitude smaller than the corpus at any scale: 100 TB of text is
    still single-digit-millions of distinct words."""
    return (
        df.select(F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _bpe_pair_col(seg: Column) -> Column:
    """Adjacent-symbol pairs of a space-joined segmentation, as
    'x y' strings (symbols never contain spaces, so the join is
    unambiguous). Guarded for single-symbol words: sequence(1, 0)
    DESCENDS in Spark, which would index past the array."""
    arr = F.split(seg, " ")
    return F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(arr, i), F.element_at(arr, i + 1)
            ),
        ),
    ).otherwise(F.expr("cast(array() as array<string>)"))


@column_template
def _bpe_pair_named(name: str) -> Column:
    """_bpe_pair_col over a column name — memoized template
    (exprcache): the training loop re-built this tree every round."""
    return _bpe_pair_col(F.col(name))


@column_template
def _bpe_fold_template() -> Column:
    """The greedy left-to-right single-pair merge fold, as a FIXED
    expression template: the pair being merged is read from the
    literal columns __x__/__y__/__xy__ the caller attaches per round
    (outer column references are ordinary attributes inside
    higher-order-function lambdas), so the ~150-round-trip lambda
    tree is built once per process instead of once per merge round.
    The py4j round-trips are the whole saving: a rebuilt tree's fresh
    lambda-variable names still hit the JVM codegen class cache
    (same compiled-class count as the reused tree, measured with
    Spark's CodegenMetrics)."""
    return F.aggregate(
        F.split(F.col("seg"), " "),
        F.expr("cast(array() as array<string>)"),
        lambda acc, t: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.col("__x__"))
            & (t == F.col("__y__")),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.col("__xy__"))
            ),
        ).otherwise(F.concat(acc, F.array(t))),
    )


def bpe_train(
    df: DataFrame, text_col: str = "text", n_merges: int = 5
) -> DataFrame:
    """Distributed byte-pair-encoding tokenizer training (Sennrich et
    al. 2016 / GPT-2 style, over whitespace-pretokenized words):
    learn the ``n_merges`` highest-frequency adjacent-symbol merges,
    greedy left-to-right within each word, ties broken by pair
    string ascending (deterministic, engine-portable).

    Returns (rank, pair, freq): the k-th learned merge and the
    weighted count of adjacent occurrences it had when chosen.

    Scale shape: ONE corpus-wide shuffle builds the distinct-word
    frequency table (bpe_word_freq); each merge round then runs
    entirely on the vocabulary — a Column-algebra pair explode +
    one policy-sized aggregation whose single top row comes to the
    driver (driver-side LOOP over k rounds, never driver-side DATA).
    The greedy within-word merge is a pure ``aggregate`` fold over
    the symbol array (element-exact comparisons — no substring
    false-positives a string replace() would hit once symbols grow
    past one character), so re-segmentation is map-only over the
    vocabulary. At 100 TB the per-round cost is independent of
    corpus size.

    Counting semantics: a round counts ADJACENT POSITIONS (so 'aaa'
    contributes 2 to pair 'a a'), and the fold then merges greedy
    left-to-right ('aaa' → ['aa','a']) — the reference BPE behavior.
    """
    from mfdb_hafro_etl_spark.localrel import local_df
    from pyspark.sql import types as T

    spark = df.sparkSession
    vocab = (
        bpe_word_freq(df, text_col)
        .select(
            "freq",
            # 'w o r d': one space between every character
            F.rtrim(F.regexp_replace(F.col("word"), "(.)", "$1 ")).alias("seg"),
        )
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            vocab.select("freq", F.explode(_bpe_pair_named("seg")).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").alias("freq"))
            .orderBy(F.col("freq").desc(), F.col("pair").asc())
            .first()
        )
        if top is None:
            break
        pair, freq = top["pair"], int(top["freq"])
        merges.append((rank, pair, freq))
        x, y = pair.split(" ")
        merged = x + y
        new_vocab = (
            vocab.select(
                "freq",
                "seg",
                F.lit(x).alias("__x__"),
                F.lit(y).alias("__y__"),
                F.lit(merged).alias("__xy__"),
            )
            .select("freq", F.array_join(_bpe_fold_template(), " ").alias("seg"))
            .localCheckpoint(eager=True)
        )
        try:  # free the superseded round's blocks (long-session hygiene)
            vocab._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass
        vocab = new_vocab
    try:
        vocab._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass
    return local_df(
        spark,
        merges,
        T.StructType(
            [
                T.StructField("rank", T.IntegerType()),
                T.StructField("pair", T.StringType()),
                T.StructField("freq", T.LongType()),
            ]
        ),
    )


def bpe_merges(merges_df: DataFrame) -> list[tuple[str, str]]:
    """Collect a bpe_train result to the rank-ordered merge list
    bpe_encode ships to the executors. The collect is VOCAB-sized by
    the training contract (n_merges rows — tens of thousands for a
    production tokenizer), never corpus-sized."""
    return [
        tuple(r["pair"].split(" "))
        for r in merges_df.select("rank", "pair").orderBy("rank").collect()
    ]


#: SentencePiece-style word-start marker used by
#: bpe_encode(mark_word_start=True) / bpe_decode. Applied AFTER the
#: merge loop (pure post-processing), so the trained merge table needs
#: no marker-aware vocabulary.
BPE_WORD_MARK = "▁"  # ▁


def bpe_encode(
    df: DataFrame,
    merges: DataFrame | list,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "tokens",
    mark_word_start: bool = False,
) -> DataFrame:
    """Apply a trained BPE merge table to tokenize a corpus —
    the operator that makes bpe_train load-bearing (token-exact
    packing / token accounting for a pretraining corpus, rather than
    whitespace-token approximations).

    Returns (id_col, out_col array<string>): the BPE segmentation of
    each document, words in document order, symbols within each word
    in left-to-right order. Pretokenization matches bpe_word_freq
    exactly: lowercase, split on whitespace runs, drop empties.

    Semantics: merges apply by RANK — the lowest-ranked pair present
    anywhere in the word merges first, all its occurrences in one
    greedy left-to-right scan, until no learned pair remains. This
    priority loop is EQUIVALENT to applying the merges sequentially
    in rank order (merge 1 exhaustively, then merge 2, ...): a
    lower-ranked pair can never become newly applicable after a
    higher-ranked merge, because merging only fuses symbols into NEW
    symbols (created no earlier than the current rank) — it never
    re-creates adjacency between two pre-existing symbols. Training
    (bpe_train) orders merges so each merge's constituents are
    products of strictly earlier merges, which closes the argument.
    The sequential form is what the SQL oracle and the pure-Python
    parity test replay; the priority loop is just the O(len²) per
    word way to run it when the merge table is 10⁴-10⁵ deep.

    Scale shape: the merge table ships BY VALUE in the kernel
    closure (captured at plan time — worker interpreters re-import
    module globals to defaults, so a broadcast-by-global would
    silently reset; vocab-sized, a few MB at production depth). The
    kernel is map-only over spread_for_kernel input, and a per-task
    word→tokens memo exploits the Zipfian reuse of natural text:
    most word instances hit the cache, so per-task cost tracks
    DISTINCT words per task plus a dict lookup per word instance.

    ``merges``: a bpe_train result DataFrame (collected vocab-sized,
    see bpe_merges) or an already-collected list of (x, y) tuples /
    "x y" strings in rank order.

    ``mark_word_start``: prefix each word's FIRST token with
    BPE_WORD_MARK ('▁', SentencePiece-style) AFTER the merge loop.
    Post-processing only — merges apply to unmarked symbols, so the
    trained table is shared between both modes — but it makes the
    token stream LOSSLESS w.r.t. the pretokenized text: bpe_decode
    (concat → marker→space → trim) recovers it exactly, where the
    unmarked stream cannot know word boundaries. Default False keeps
    the oracle-pinned x_bpe_encode stream unchanged.
    """
    import re as _re

    from mfdb_hafro_etl_spark.session import ensure_package_shipped, spread_for_kernel

    if isinstance(merges, DataFrame):
        merges = bpe_merges(merges)
    pairs = [tuple(m.split(" ")) if isinstance(m, str) else tuple(m) for m in merges]
    ranks = {p: i for i, p in enumerate(pairs)}

    ensure_package_shipped(df.sparkSession)
    src = spread_for_kernel(df.select(id_col, text_col))
    id_type = src.schema[id_col].dataType.simpleString()
    # re.ASCII: Python's \s is Unicode-aware (U+00A0, U+2009, ...) but
    # bpe_word_freq/bpe_train split with Java \s (ASCII-only) and the
    # DuckDB oracle uses RE2 \s (also ASCII) — an ASCII splitter is the
    # only choice all three engines agree on, keeping the "matches
    # bpe_word_freq exactly" contract on text with Unicode whitespace.
    # (Lowercasing edge: str.lower() is full-Unicode like Spark's
    # lower(); both differ from DuckDB's ASCII lower() only on
    # non-ASCII letters, which the oracle fixtures avoid.)
    ws = _re.compile(r"\s+", _re.ASCII)

    def _encode_word(word: str, cache: dict) -> list:
        got = cache.get(word)
        if got is not None:
            return got
        syms = list(word)
        while len(syms) > 1:
            best_rank = None
            best = None
            for a, b in zip(syms, syms[1:]):
                r = ranks.get((a, b))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best = r, (a, b)
            if best is None:
                break
            a, b = best
            merged = a + b
            out = []
            i = 0
            n_s = len(syms)
            while i < n_s:
                if i < n_s - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        cache[word] = syms
        return syms

    mark = BPE_WORD_MARK if mark_word_start else None

    def gen(batches):
        import pandas as pd

        cache: dict = {}
        for pdf in batches:
            toks = []
            for t in pdf[text_col]:
                words = [w for w in ws.split((t or "").lower()) if w]
                doc: list = []
                for w in words:
                    syms = _encode_word(w, cache)
                    if mark:  # copy — never mutate the memoized list
                        doc.append(mark + syms[0])
                        doc.extend(syms[1:])
                    else:
                        doc.extend(syms)
                toks.append(doc)
            yield pd.DataFrame({id_col: pdf[id_col], out_col: toks})

    return src.mapInPandas(
        gen, schema=f"{id_col} {id_type}, {out_col} array<string>"
    )


def bpe_decode(tokens_col: Column | str) -> Column:
    """Inverse of bpe_encode(mark_word_start=True): concatenate the
    token stream, turn each word-start marker back into the single
    space the ASCII-whitespace pretokenizer collapsed to, and trim
    the leading one. Pure Column algebra (no UDF), and SQL-mirrorable
    one-for-one (array_to_string + replace + trim).

    Round-trip contract (property-pinned in tests):
    decode(encode(x, mark_word_start=True)) == the PRETOKENIZED text
    — lowercased, ASCII-whitespace runs collapsed to single spaces,
    leading/trailing whitespace dropped. Tokens from the unmarked
    mode are NOT decodable (word boundaries aren't in the stream);
    decoding them returns the bare symbol concatenation.

    Marker-collision limit (shared with SentencePiece itself): a
    document whose CONTENT contains a literal U+2581 '▁' decodes that
    character to a space — the in-band marker is indistinguishable
    from it. Corpora that may carry it (e.g. text ABOUT tokenizers)
    should map it to a private-use codepoint before encode."""
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    return F.trim(F.regexp_replace(F.array_join(c, ""), BPE_WORD_MARK, " "))


#: tokenizer artifact layout version (_tokenizer_meta.json)
_BPE_EXPORT_VERSION = 1


def bpe_export(merges_df: DataFrame, path: str) -> None:
    """Persist a trained BPE merge table as a durable artifact other
    sessions/jobs load with bpe_import — without this, the tokenizer
    exists only as a DataFrame inside the training session. Layout:
    ``path``/merges (parquet: rank, pair, freq) plus
    _tokenizer_meta.json written LAST (the index-marker discipline:
    a crash mid-export leaves a loudly-invalid artifact, never a
    silently short merge table)."""
    import json
    import os

    out = merges_df.select("rank", "pair", "freq").orderBy("rank")
    out.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "merges"))
    n = int(
        merges_df.sparkSession.read.parquet(os.path.join(path, "merges")).count()
    )
    with open(os.path.join(path, "_tokenizer_meta.json"), "w") as fh:
        json.dump({"version": _BPE_EXPORT_VERSION, "n_merges": n}, fh)


def bpe_import(spark: SparkSession, path: str) -> DataFrame:
    """Load a bpe_export artifact, meta-guarded: a missing meta
    (half-written export) fails loudly with FileNotFoundError; a
    version or row-count mismatch (layout drift, torn merge table)
    raises ValueError. Returns the (rank, pair, freq) DataFrame,
    usable anywhere a bpe_train result is (bpe_encode, bpe_merges,
    token_count packing)."""
    import json
    import os

    with open(os.path.join(path, "_tokenizer_meta.json")) as fh:
        meta = json.load(fh)
    if meta.get("version") != _BPE_EXPORT_VERSION:
        raise ValueError(
            f"tokenizer artifact at {path} has layout version "
            f"{meta.get('version')}; this engine reads {_BPE_EXPORT_VERSION}"
        )
    merges = spark.read.parquet(os.path.join(path, "merges"))
    n = merges.count()
    if n != meta.get("n_merges"):
        raise ValueError(
            f"tokenizer artifact at {path} is torn: meta records "
            f"{meta.get('n_merges')} merges, table holds {n}"
        )
    return merges
