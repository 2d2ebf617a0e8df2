"""Text-analysis operators for training-data curation.

Beyond-reference surface (the reference has no text analytics): token
counting, quality scoring, n-gram/stopword language ID, document
fingerprinting, and bigram-LM scoring.  All pure Catalyst column
expressions — no Python UDF anywhere; the per-document operators are
shuffle-free whole-stage codegen, and the corpus-statistics operators
(TermFrequency, TfIdf, NgramScorer) add only keyed count shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import h32_expr

#: BPE-ish lexer: letter runs, digit runs, or single non-alnum glyphs.
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

#: Tiny per-language marker lexicons for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    "es": ("el", "la", "los", "de", "que", "es", "una"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3"),
}

#: English stopword subset used by the quality score.
STOPWORDS = ("the", "a", "of", "and", "is", "to", "in", "on", "for")


class TokenCounter:
    """Whitespace token count + BPE-ish regex token count + a chars/4
    subword estimate (the classic LLM rule of thumb)."""

    def __init__(self, text_col: str = "text"):
        self.text_col = text_col

    def transform(self, df: DataFrame) -> DataFrame:
        from .dedup import spread

        df = spread(df)
        t = self.text_col
        return df.withColumns({
            "ws_tokens": F.size(F.split(F.col(t), " ")).cast("long"),
            "re_tokens": F.size(
                F.expr(f"regexp_extract_all({t}, '{TOKEN_REGEX}', 0)")).cast("long"),
            "subword_est": F.ceil(F.length(t) / 4).cast("long"),
        })


class QualityScorer:
    """Heuristic document quality: length, mean word length, stopword
    ratio, alpha ratio — combined into one [0,1]-ish score.

    All ratios are exact-integer numerators/denominators so a SQL oracle
    reproduces them bit-for-bit; only the final divisions are fp.
    """

    def __init__(self, text_col: str = "text"):
        self.text_col = text_col

    def transform(self, df: DataFrame) -> DataFrame:
        from .dedup import spread

        df = spread(df)
        t = self.text_col
        toks = f"split({t}, ' ')"
        stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
        n_tok = F.expr(f"size({toks})")
        n_stop = F.expr(
            f"size(filter({toks}, x -> x in ({stop_list})))")
        n_alpha = F.expr(f"length(regexp_replace({t}, '[^a-z]', ''))")
        out = df.withColumns({
            "n_chars_m": F.length(t).cast("long"),
            "n_tokens": n_tok.cast("long"),
            "mean_tok_len": F.round(
                (F.length(t) - n_tok + 1) / n_tok, 6),
            "stopword_ratio": F.round(n_stop / n_tok, 6),
            "alpha_ratio": F.round(n_alpha / F.length(t), 6),
        })
        score = (
            F.least(F.col("n_tokens") / 64.0, F.lit(1.0)) * 0.25
            + F.col("alpha_ratio") * 0.5
            + F.least(F.col("stopword_ratio") * 4.0, F.lit(1.0)) * 0.25
        )
        # floor-based 6-decimal round: unlike ROUND(), whose half-way
        # tie-breaking differs between engines, floor(x*1e6+0.5) is the
        # same IEEE op sequence everywhere.
        return out.withColumn(
            "quality_score", F.floor(score * 1000000 + 0.5) / 1000000.0)


class LanguageIdentifier:
    """Marker-lexicon language ID: score = marker-token hits per
    language, predict the argmax (ties broken alphabetically).

    The real-data analog drops in richer lexicons / char-n-gram tables
    via the same ``markers`` dict; the mechanism (per-row filter+size,
    greatest-of-scores) is unchanged and shuffle-free.
    """

    def __init__(self, text_col: str = "text",
                 markers: dict[str, tuple[str, ...]] | None = None):
        self.text_col = text_col
        self.markers = markers or LANG_MARKERS

    def transform(self, df: DataFrame) -> DataFrame:
        from .dedup import spread

        df = spread(df)
        toks = f"split({self.text_col}, ' ')"
        langs = sorted(self.markers)
        out = df
        for lang in langs:
            lst = ", ".join(f"'{w}'" for w in self.markers[lang])
            out = out.withColumn(
                f"score_{lang}",
                F.expr(f"size(filter({toks}, x -> x in ({lst})))")
                .cast("long"))
        # argmax with alphabetical tie-break: array_position returns the
        # FIRST index of the max over the lang-sorted score array — the
        # same winner as a strictly-greater-replaces fold.  The score
        # array is LET-bound (1-element transform idiom) so each score
        # column is referenced exactly once: the previous nested
        # when-chain embedded every score expression O(L^2) times,
        # which CollapseProject then re-inlined into downstream
        # consumers (a fused quality->langid->filter plan re-ran the
        # token filters ~30x per row — 11.6s -> 3.9s at sf1).
        lang_lits = ", ".join(f"'{la}'" for la in langs)
        score_cols = ", ".join(f"score_{la}" for la in langs)
        pred = (f"transform(array(array({score_cols})), s -> "
                f"element_at(array({lang_lits}), "
                f"cast(array_position(s, array_max(s)) as int)))[0]")
        return out.withColumn("pred_lang", F.expr(pred))


#: PII patterns: ERE-only (no lookarounds/shorthand), portable across
#: Spark's Java regex and DuckDB's RE2.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,3}[- .]?\(?[0-9]{3}\)?[- .]?[0-9]{3}[- .]?[0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


class Redactor:
    """PII scrubbing for training corpora: each pattern is replaced by a
    typed placeholder (``<EMAIL>`` …) via chained ``regexp_replace`` —
    per-row, shuffle-free, codegen'd.  Patterns are ERE-portable so the
    same redaction replays in any engine."""

    def __init__(self, text_col: str = "text",
                 patterns: dict[str, str] | None = None,
                 output: str = "redacted"):
        self.text_col = text_col
        self.patterns = patterns or PII_PATTERNS
        self.output = output

    def transform(self, df: DataFrame) -> DataFrame:
        from .dedup import spread

        df = spread(df)
        out = F.col(self.text_col)
        for name, pat in self.patterns.items():
            out = F.regexp_replace(out, pat, f"<{name.upper()}>")
        return df.withColumn(self.output, out)


class TermFrequency:
    """Corpus term statistics: explode tokens → count + doc-frequency per
    term.  The one genuinely shuffle-bearing text op (keyed by term);
    partial aggregation combines map-side, and ``min_count`` prunes the
    long tail before any join against it."""

    def __init__(self, text_col: str = "text", min_count: int = 1):
        self.text_col = text_col
        self.min_count = min_count

    def transform(self, df: DataFrame, id_col: str = "doc_id") -> DataFrame:
        from .dedup import spread

        tok = spread(df).select(
            F.col(id_col),
            F.explode(F.split(F.col(self.text_col), " ")).alias("term"))
        return (
            tok.groupBy("term")
            .agg(F.count(F.lit(1)).alias("tf"),
                 F.count_distinct(id_col).alias("df"))
            .filter(F.col("tf") >= self.min_count)
        )


class TfIdf:
    """Per-(document, term) TF-IDF weights with sklearn's smoothed IDF:
    ``idf = ln((1 + N) / (1 + df)) + 1``, ``tfidf = tf * idf`` — the
    relevance weighting behind keyword extraction, near-dup triage, and
    quality features in curation pipelines.

    Plan shape (three keyed shuffles, all on narrow rows): explode →
    partial-aggregated groupBy(doc, term) for tf; groupBy(term) over
    that for df; join tf⋈df on term.  The corpus size N rides in on a
    broadcast one-row cross join so the whole plan stays lazy (no
    driver count action).  Document bodies never shuffle — after the
    explode every row is (id, term) or smaller.  ``min_df`` prunes
    hapax legomena before the join, which at web scale removes the
    (huge) long tail of the vocabulary.
    """

    def __init__(self, text_col: str = "text", min_df: int = 1):
        self.text_col = text_col
        self.min_df = min_df

    def transform(self, df: DataFrame, id_col: str = "doc_id") -> DataFrame:
        from .dedup import spread

        tok = spread(df).select(
            F.col(id_col),
            F.explode(F.split(F.col(self.text_col), " ")).alias("term"))
        tf = (tok.groupBy(id_col, "term")
              .agg(F.count(F.lit(1)).alias("tf")))
        dfreq = (tf.groupBy("term")
                 .agg(F.count(F.lit(1)).alias("df"))
                 .filter(F.col("df") >= self.min_df))
        n_docs = df.agg(
            F.count_distinct(F.col(id_col)).alias("__n_docs"))
        return (
            tf.join(dfreq, on="term")
            .crossJoin(F.broadcast(n_docs))
            .select(
                id_col, "term", "tf",
                F.round(
                    F.col("tf")
                    * (F.log((1.0 + F.col("__n_docs"))
                             / (1.0 + F.col("df"))) + 1.0),
                    6).alias("tfidf"),
            ))


class RepetitionScorer:
    """Gopher/C4-style repetition signals: fraction of duplicate word
    bigrams and the share taken by the single most-frequent bigram —
    the standard filters for boilerplate / keyword-stuffed / looping
    documents in LLM training-data curation.

    Shuffle-free per-row HOF expressions like the rest of this module;
    the occurrence-count step is O(distinct × total) per document,
    fine for natural documents (≤ thousands of tokens).  A pathological
    million-token document would instead use the TermFrequency-style
    explode → groupBy(doc, gram) shape — same results, one shuffle.
    """

    def __init__(self, text_col: str = "text"):
        self.text_col = text_col

    def transform(self, df: DataFrame) -> DataFrame:
        from .dedup import spread

        df = spread(df)       # CPU-bound per-row kernel: use every core
        toks = f"split({self.text_col}, ' ')"
        bg = (f"case when size({toks}) < 2 then array() else "
              f"transform(sequence(1, size({toks}) - 1), "
              f"i -> concat(element_at({toks}, i), ' ', "
              f"element_at({toks}, i + 1))) end")
        counts = (f"transform(array_distinct(__bg), d -> "
                  f"size(filter(__bg, x -> x = d)))")
        zero = "cast(0.0 as double)"
        return (
            df.withColumn("__bg", F.expr(bg))
            .withColumns({
                "n_bigrams": F.expr("size(__bg)").cast("long"),
                "distinct_bigrams":
                    F.expr("size(array_distinct(__bg))").cast("long"),
                "dup_bigram_ratio": F.expr(
                    f"case when size(__bg) = 0 then {zero} else "
                    f"round((size(__bg) - size(array_distinct(__bg))) "
                    f"/ size(__bg), 6) end"),
                "top_bigram_frac": F.expr(
                    f"case when size(__bg) = 0 then {zero} else "
                    f"round(array_max({counts}) / size(__bg), 6) end"),
            })
            .drop("__bg")
        )


class ContaminationChecker:
    """Benchmark decontamination: flag corpus documents that share any
    word ``n``-gram with a benchmark/eval set — the step an LLM data
    pipeline runs so test sets don't leak into training data.

    Plan: the benchmark side (small by construction — eval sets are
    thousands of docs, not billions) is reduced to its distinct shingle
    set and **broadcast**; the corpus side explodes shingles map-side
    and semi-joins against it, then aggregates matches per doc — so the
    100 TB corpus is never shuffled, only scanned.  Shingling is the
    same md5-free ``shingle_expr`` the dedup operators use, so a SQL
    oracle replays it exactly.
    """

    def __init__(self, n: int = 5):
        self.n = n

    def flag(self, corpus: DataFrame, benchmark: DataFrame,
             id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
        """(id, n_shared) for every corpus doc sharing ≥1 shingle."""
        from .dedup import shingle_expr, spread

        cs = spread(corpus).select(
            F.col(id_col),
            F.explode(shingle_expr(text_col, self.n)).alias("__s"))
        bs = (benchmark
              .select(F.explode(shingle_expr(text_col, self.n)).alias("__s"))
              .distinct())
        return (
            cs.join(F.broadcast(bs), "__s")
            .groupBy(id_col)
            .agg(F.count_distinct("__s").alias("n_shared"))
        )


class Fingerprinter:
    """Deterministic document fingerprints: a normalized-content md5 and
    a position-weighted polynomial token hash (rolling-hash style).

    fp_roll = Σ_i h32(token_i) * (2i+1)  mod 2^31-1   (i is 0-based)
    — order-sensitive (unlike a bag hash) yet exactly reproducible in
    any engine with integer arithmetic.
    """

    def __init__(self, text_col: str = "text"):
        self.text_col = text_col

    def transform(self, df: DataFrame) -> DataFrame:
        from .dedup import spread

        df = spread(df)
        t = self.text_col
        norm = f"lower(regexp_replace({t}, '\\\\s+', ' '))"
        toks = f"split({norm}, ' ')"
        weighted = (f"transform({toks}, (x, i) -> "
                    f"{h32_expr('x')} * (2L*i + 1L))")
        roll = (f"aggregate({weighted}, 0L, (acc, v) -> acc + v) "
                f"% 2147483647L")
        return df.withColumns({
            "fp_md5": F.expr(f"md5({norm})"),
            "fp_roll": F.expr(roll),
        })


class DocumentChunker:
    """Split documents into overlapping token-bounded chunks for LLM
    context windows (beyond-reference: training pipelines chunk before
    tokenize/pack).

    Tokens are whitespace words (consistent with
    :class:`TokenCounter`'s ``ws_tokens``).  With ``stride =
    max_tokens - overlap``, chunk *i* covers tokens ``[i*stride,
    i*stride + max_tokens)``; a document of ``n`` tokens yields ``1``
    chunk when ``n <= max_tokens`` else ``ceil((n - max_tokens) /
    stride) + 1`` — the last chunk always reaches the final token and
    every consecutive pair shares exactly ``overlap`` tokens (except a
    possibly-shorter tail).

    Scale notes: pure codegen (``split``/``sequence``/``posexplode``/
    ``slice``) — no Python, no shuffle; the explode is map-side, so the
    operator streams at input-scan speed and the output partitioning
    inherits the input's.  Output rows carry only the chunk slice, not
    the source body, so downstream shuffles move ``max_tokens`` words
    per row at most.
    """

    def __init__(self, text_col: str = "text", id_col: str = "doc_id",
                 max_tokens: int = 64, overlap: int = 8):
        if overlap >= max_tokens:
            raise ValueError("overlap must be < max_tokens")
        self.text_col = text_col
        self.id_col = id_col
        self.max_tokens = max_tokens
        self.overlap = overlap

    def transform(self, df: DataFrame) -> DataFrame:
        from .dedup import spread

        df = spread(df)
        mt, stride = self.max_tokens, self.max_tokens - self.overlap
        toks = f"split({self.text_col}, ' ')"
        nchunks = (f"if(size({toks}) <= {mt}, 1, "
                   f"cast(ceil((size({toks}) - {mt}) / cast({stride} as double)) as int) + 1)")
        return (df
                .select(F.col(self.id_col),
                        F.expr(toks).alias("__toks"),
                        F.expr(f"sequence(0, {nchunks} - 1)").alias("__ids"))
                .select(self.id_col, "__toks",
                        F.posexplode("__ids").alias("chunk_id", "__i"))
                .select(
                    self.id_col,
                    F.col("chunk_id"),
                    F.expr(f"array_join(slice(__toks, chunk_id * {stride} + 1, {mt}), ' ')")
                    .alias("chunk_text"),
                    F.expr(f"size(slice(__toks, chunk_id * {stride} + 1, {mt}))")
                    .cast("long").alias("chunk_tokens"),
                ))


class SequencePacker:
    """Pack token-bounded chunks into fixed-budget context windows
    (training-batch prep: sequences are concatenated until the window
    is full).

    Deterministic *contiguous* packing, chosen for parallelism: chunks
    are sharded by an md5 hash of the document id (a document's chunks
    stay in one shard), ordered by ``(doc_id, chunk_id)`` within the
    shard, and assigned ``pack_id = floor((running_token_sum - 1) /
    budget)`` — pack boundaries sit at budget multiples in token
    space, and a chunk straddling a boundary belongs to the pack where
    it *ends*.  Consequently a pack holds at most ``budget +
    max_chunk_tokens - 1`` tokens (the straddler's overhang); trainers
    that need a hard window truncate or split the boundary chunk
    downstream, which is the standard pack-with-truncation recipe.
    First-fit-decreasing would pack tighter but is inherently
    sequential; contiguous packing is one window function per shard —
    ``n_shards``-way parallel, and at cluster scale ``n_shards`` is
    set to the partition count so every core packs independently.  The
    only shuffle is the hash partition on ``shard``.
    """

    def __init__(self, budget: int = 512, n_shards: int = 32,
                 id_col: str = "doc_id", chunk_col: str = "chunk_id",
                 token_col: str = "chunk_tokens"):
        if budget <= 0 or n_shards <= 0:
            raise ValueError("budget and n_shards must be positive")
        self.budget = budget
        self.n_shards = n_shards
        self.id_col = id_col
        self.chunk_col = chunk_col
        self.token_col = token_col

    def transform(self, chunks: DataFrame) -> DataFrame:
        from pyspark.sql.window import Window

        shard = F.expr(
            f"pmod({h32_expr(f'cast({self.id_col} as string)')}, "
            f"{self.n_shards})").cast("int")
        w = (Window.partitionBy("shard")
             .orderBy(self.id_col, self.chunk_col))
        out = (chunks
               .withColumn("shard", shard)
               .withColumn("cum_tokens",
                           F.sum(self.token_col).over(w).cast("long"))
               .withColumn("pack_id",
                           F.floor((F.col("cum_tokens") - 1) / self.budget)
                           .cast("long")))
        return out.select(self.id_col, self.chunk_col, self.token_col,
                          "shard", "cum_tokens", "pack_id")

    def pack_stats(self, chunks: DataFrame) -> DataFrame:
        """Per-pack fill statistics (how tight the packing is)."""
        packed = self.transform(chunks)
        return (packed.groupBy("shard", "pack_id")
                .agg(F.count("*").cast("long").alias("n_chunks"),
                     F.sum(self.token_col).cast("long").alias("pack_tokens"))
                .withColumn("fill_ratio",
                            F.round(F.col("pack_tokens") / self.budget, 6)))


class StopwordRemover:
    """Remove stopwords from the token stream of a text column —
    the vocabulary-shrinking step before TF-IDF / shingling when the
    connective tissue carries no signal.

    Map-only codegen: split → ``array_except`` against the stopword
    literal array → re-join.  The stopword list is a plan LITERAL (a
    few hundred strings at most), not a broadcast table — it folds
    into whole-stage codegen with zero distribution cost.  Matching is
    exact-token (the split convention of the rest of this module);
    case-insensitive matching composes by lowercasing upstream.
    """

    def __init__(self, stopwords=STOPWORDS, text_col: str = "text",
                 out_col: str | None = None):
        self.stopwords = list(stopwords)
        if not self.stopwords:
            raise ValueError("stopwords must be non-empty")
        self.text_col = text_col
        self.out_col = out_col or text_col

    def transform(self, df: DataFrame) -> DataFrame:
        # deliberately NOT spread: the filter is cheap relative to the
        # full-width text payload a repartition would shuffle (measured
        # a net loss at sf3)
        toks = F.split(F.col(self.text_col), " ")
        sw = F.array(*[F.lit(s) for s in self.stopwords])
        # filter HOF, NOT array_except: except is a SET op that would
        # also dedupe the surviving tokens — repetition must be
        # preserved (RepetitionScorer etc. depend on it downstream)
        kept = F.filter(toks, lambda t: ~F.array_contains(sw, t))
        return df.withColumn(self.out_col, F.array_join(kept, " "))


class TextNormalizer:
    """Canonical text normalization — the pre-dedup cleanup that makes
    near-identical documents hash-identical: lowercase, strip
    punctuation, collapse whitespace runs, trim.  Composing this before
    ExactDeduplicator/MinHash upgrades them from byte-identity to
    normalized-identity matching.

    Map-only codegen (three regex/casing expressions, zero shuffle).
    Each step is optional; operations restrict to engine-portable
    primitives (lower / regexp_replace / trim) so the oracle replays
    them byte-for-byte — unicode NFKC folding would need an ICU UDF
    and is deliberately out of this portable tier.
    """

    def __init__(self, text_col: str = "text", out_col: str | None = None,
                 lowercase: bool = True, strip_punct: bool = True,
                 collapse_ws: bool = True):
        self.text_col = text_col
        self.out_col = out_col or text_col
        self.lowercase = lowercase
        self.strip_punct = strip_punct
        self.collapse_ws = collapse_ws

    def transform(self, df: DataFrame) -> DataFrame:
        # deliberately NOT spread: three cheap regex passes against a
        # full-width text output — a repartition would shuffle the
        # whole corpus for less CPU than it costs (measured 4.4s ->
        # 7.1s at sf3 WITH spread)
        c = F.col(self.text_col)
        if self.lowercase:
            c = F.lower(c)
        if self.strip_punct:
            c = F.regexp_replace(c, r"[^a-z0-9\s]" if self.lowercase
                                 else r"[^A-Za-z0-9\s]", "")
        if self.collapse_ws:
            c = F.trim(F.regexp_replace(c, r"\s+", " "))
        return df.withColumn(self.out_col, c)


class NgramScorer:
    """Bigram language-model scoring — the perplexity-proxy quality
    filter every LLM data pipeline runs (docs whose text the corpus LM
    finds improbable are boilerplate, garble, or wrong-language).

    ``fit`` builds add-k-smoothed bigram statistics over the corpus:
    unigram counts, bigram counts, and vocabulary size — two keyed
    shuffles over exploded tokens, nothing else.  ``score`` computes
    each document's mean log-probability

        avg over interior bigrams of ln((c(w1,w2)+k) / (c(w1)+k*V))

    via slice-zip bigram expansion joined against the fitted count
    tables (AQE broadcasts a small vocabulary and shuffles a large one
    on the token key, never a driver collect), then one
    re-aggregation keyed by the document id.  No Python anywhere.

    Cross-engine determinism: probabilities are exact-integer-count
    divisions (IEEE-identical in any engine); each token's ln() is
    quantized to 9 dp and summed as exact DECIMAL, so partition
    reduction order cannot move the 6-dp result.  Documents with fewer
    than two tokens have no bigrams and are omitted from the output.
    """

    def __init__(self, k: float = 1.0, lowercase: bool = False):
        self.k = float(k)
        self.lowercase = lowercase
        self.uni_: DataFrame | None = None
        self.bi_: DataFrame | None = None
        self.vocab_size_: int | None = None

    def _tokens(self, col) -> Column:
        text = F.lower(col) if self.lowercase else col
        return F.filter(F.split(text, r"\s+"), lambda w: w != "")

    def fit(self, df: DataFrame, col: str = "text") -> "NgramScorer":
        from .dedup import spread

        # refit: release the previous fit's cached tables first so
        # repeated fits don't accumulate executor storage (ADVICE r4)
        for prev in (self.uni_, self.bi_):
            if prev is not None:
                prev.unpersist()
        # tokenize+explode happens in the map stage BEFORE the count
        # shuffle redistributes: a single-row-group corpus file would
        # serialize it on 1-2 cores (spread is a no-op at real scale)
        df = spread(df)
        toks = df.select(F.explode(self._tokens(F.col(col))).alias("w"))
        self.uni_ = (toks.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
                     .persist())
        self.vocab_size_ = self.uni_.count()  # also materializes the persist
        t = self._tokens(F.col(col))
        pairs = F.arrays_zip(F.slice(t, 1, F.size(t) - 1).alias("w1"),
                             F.slice(t, 2, F.size(t) - 1).alias("w2"))
        self.bi_ = (df.select(F.explode(pairs).alias("p"))
                    .groupBy(F.col("p.w1").alias("w1"),
                             F.col("p.w2").alias("w2"))
                    .agg(F.count(F.lit(1)).alias("cb"))
                    .persist())
        return self

    def score(self, df: DataFrame, id_col: str = "doc_id",
              col: str = "text", out: str = "avg_logprob") -> DataFrame:
        assert self.uni_ is not None, "call fit first"
        from .dedup import spread

        df = spread(df)          # bigram expansion is map-stage CPU
        t = self._tokens(F.col(col))
        pairs = F.arrays_zip(F.slice(t, 1, F.size(t) - 1).alias("w1"),
                             F.slice(t, 2, F.size(t) - 1).alias("w2"))
        ex = (df.select(F.col(id_col), F.explode(pairs).alias("p"))
              .select(id_col, F.col("p.w1").alias("w1"),
                      F.col("p.w2").alias("w2")))
        uni = self.uni_.withColumnRenamed("w", "__u_w")
        bi = self.bi_
        joined = (ex.join(uni, ex.w1 == F.col("__u_w"), "left")
                  .join(bi,
                        (ex.w1 == bi.w1) & (ex.w2 == bi.w2), "left"))
        k, v = self.k, self.vocab_size_
        p = ((F.coalesce(F.col("cb"), F.lit(0)) + F.lit(k))
             / (F.coalesce(F.col("cu"), F.lit(0)) + F.lit(k * v)))
        logp = F.round(F.log(p), 9).cast("decimal(18,9)")
        return (joined.groupBy(id_col)
                .agg(F.round(F.sum(logp).cast("double")
                             / F.count(F.lit(1)), 6).alias(out)))


class BM25Retriever:
    """Okapi BM25 scoring + top-k retrieval for a literal term query.

    Beyond-reference surface (the reference has no retrieval tier); the
    lexical-search baseline every corpus-curation pipeline needs next to
    the embedding ANN tier (similarity.py) — e.g. for contamination
    audits ("which documents score highest for this benchmark prompt")
    and targeted corpus slicing.

    ``idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))``;
    ``score  = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``.

    Scale design: the query is a FIXED handful of literal terms, so
    everything stays in whole-stage codegen over one corpus scan —
    per-document ``tf`` is ``size(filter(tokens, x -> x = term))`` per
    term (no explode, no per-term join), and the corpus statistics
    (N, avgdl, per-term document frequencies) are ONE global aggregate
    producing a 1-row frame that broadcast-crossJoins back.  Top-k is
    ``orderBy(...).limit(k)`` — Spark's TakeOrderedAndProject, a
    per-partition heap + driver merge of k rows, never a global sort.
    """

    def __init__(self, terms: list[str], k1: float = 1.2, b: float = 0.75,
                 text_col: str = "text", id_col: str = "doc_id"):
        if not terms:
            raise ValueError("BM25Retriever needs at least one query term")
        if len(set(terms)) != len(terms):
            raise ValueError("query terms must be distinct (a repeated "
                             "term would double-count its partial score)")
        self.terms = list(terms)
        self.k1 = float(k1)
        self.b = float(b)
        self.text_col = text_col
        self.id_col = id_col

    def _tf(self, i: int) -> Column:
        t = self.terms[i].replace("'", "\\'")
        return F.expr(f"size(filter(split({self.text_col}, ' '), "
                      f"x -> x = '{t}'))").cast("double")

    def score(self, df: DataFrame) -> DataFrame:
        """(id, score) for every document matching >= 1 term, score
        rounded to 6 dp (deterministic across engines)."""
        from .dedup import spread

        df = spread(df)          # per-term tf filters are map-stage CPU
        dl = F.size(F.split(F.col(self.text_col), " ")).cast("double")
        # NULL text must not enter the corpus statistics: Spark's
        # size(NULL) = -1 would poison N / avgdl / df with dl = tf = -1
        # (DuckDB's avg/sum skip NULLs, so the oracle would diverge too).
        with_tf = df.filter(F.col(self.text_col).isNotNull()).select(
            self.id_col, dl.alias("__dl"),
            *[self._tf(i).alias(f"__tf{i}") for i in range(len(self.terms))])
        stats = with_tf.agg(
            F.count(F.lit(1)).cast("double").alias("__n"),
            F.avg("__dl").alias("__avgdl"),
            *[F.sum((F.col(f"__tf{i}") > 0).cast("double"))
              .alias(f"__df{i}") for i in range(len(self.terms))])
        j = with_tf.crossJoin(stats)
        k1, b = self.k1, self.b
        parts = []
        for i in range(len(self.terms)):
            idf = F.log(F.lit(1.0) + (F.col("__n") - F.col(f"__df{i}")
                                      + F.lit(0.5))
                        / (F.col(f"__df{i}") + F.lit(0.5)))
            denom = (F.col(f"__tf{i}")
                     + F.lit(k1) * (F.lit(1.0 - b)
                                    + F.lit(b) * F.col("__dl")
                                    / F.col("__avgdl")))
            parts.append(idf * F.col(f"__tf{i}") * F.lit(k1 + 1.0) / denom)
        total = parts[0]
        for p in parts[1:]:
            total = total + p
        return (j.select(self.id_col, F.round(total, 6).alias("score"))
                .filter(F.col("score") > 0))

    def topk(self, df: DataFrame, k: int = 20) -> DataFrame:
        """Top-k by (score desc, id asc) — the id tiebreak makes the
        kept set partition-independent."""
        return (self.score(df)
                .orderBy(F.col("score").desc(),
                         F.col(self.id_col).asc())
                .limit(k))
