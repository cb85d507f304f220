"""Inverted index (postings) + multi-term search (SURVEY.md D8, A4-A6,
A8-A9, J4, O1-O3, S12-S13).

The reference builds two globally-sorted flat dictionaries with a
hand-rolled external sorter (ExternalSorter.hpp:131-451) and serves
term lookups by binary search (PageSearcher.cpp:39-67). Spark form:

* build: tokenize -> posexplode -> per-(doc,term) agg (first position
  wins, tf, normalized rank) -> `repartitionByRange(term)` +
  `sortWithinPartitions` -> write. The shuffle+TimSort+spill machinery
  replaces the external sorter; parquet min/max column stats on the
  sorted `term` column give the same O(log N)-file-pruning effect as
  the reference's binary search when Catalyst pushes a term predicate.
* small dict (A6): 8-byte-truncated terms keeping the max-rank
  instance — an argmin-struct aggregate, not a second sorter.
* search (J4/A8): one tagged pass over the dict -> PosRanks top-2 per
  (doc, term) -> one pivot per doc (AND semantics) -> proximity co-rank
  0.9^(posDiff-1) (PageSearcher.cpp:271-288) -> top-K -> host-dedup
  window (A9).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window as W, functions as F

SMALLWORDSIZE = 8  # SearchEngine.h:28
CORANK_DECAY = 0.9  # PageSearcher.cpp:280-282
CORANK_MIN = 1e-6  # PageSearcher.cpp:284
MAX_SHOW = 200  # PageSearcher.cpp:226

# --- getWords weight model (SearchEngine.cpp:306-488) ---------------------
URL_WEIGHT = 40.0  # SearchEngine.cpp:306
TITLE_WEIGHT = 100.0
BODY_WEIGHT = 1.0
BOLD_MULT = 2.0  # boldMult, SearchEngine.cpp:307
HDR_MULT = (4.0, 1.5, 1.4, 1.3, 1.0, 0.8)  # hdrMult h1..h6, SearchEngine.cpp:307
# span-kind -> amplifier (the reference toggles bold/hdrIndex while
# scanning <b>/<h1..h6> markup, SearchEngine.cpp:375-391, and applies
# rank *= hdrMult[hdrIndex] then *= boldMult, :455-457)
STYLE_MULTS = {"b": BOLD_MULT, **{f"h{i + 1}": m for i, m in enumerate(HDR_MULT)}}
CAPITAL_FACTOR = 4.0  # SearchEngine.cpp:308
DECAY = 0.999  # defactorMult, SearchEngine.cpp:309
MAXWORDPERPAGE = 2000  # SearchEngine.h:25
MAXWORDLEN = 24  # DictWord MaxWordLen (SearchEngine.h:437 typedef)
STOPWORDS_REF = ("www", "com", "a", "of", "the", "for")  # SearchEngine.h:580-585
MAX_SEARCH = 100_000_000  # per-term read cap default, PageSearcher.cpp:35,425

_SECTIONS = (("url", 0, URL_WEIGHT), ("title", 1, TITLE_WEIGHT), ("body", 2, BODY_WEIGHT))

# getWords' two word-building branches (SearchEngine.cpp:407-447):
# an ASCII word is a run of isValidWordChar ([A-Za-z0-9.] after
# '.'-folding) that STOPS at any non-ASCII byte; a word starting with a
# non-ASCII char (getNextUTF8Len, SearchEngine.h:167-194) absorbs both
# further multi-byte chars AND trailing ASCII word chars. The regex
# alternation reproduces exactly that asymmetry ('café' -> 'caf','é';
# '北京abc' -> '北京abc') and is unambiguous (each alternative is
# anchored on a disjoint first-char class), so Java regex and RE2
# tokenize identically.
_TOKEN_RE = "[A-Za-z0-9.]+|[\\x{80}-\\x{10FFFF}][A-Za-z0-9.\\x{80}-\\x{10FFFF}]*"

_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def _ascii_lower_expr(tok):
    """C-locale tolower (SearchEngine.cpp:411,441): ASCII A-Z only —
    non-ASCII chars keep their bytes verbatim. translate() is
    bit-identical in Spark and DuckDB, with none of the Unicode-lower
    edge cases (Turkish İ, ß) that differ between JVM and utf8proc."""
    return F.translate(tok, _ASCII_UPPER, _ASCII_LOWER)


def _clean_token_expr(tok):
    """Reference word building: a run of ' '/'.' separators collapses to
    one (SearchEngine.cpp:419-425), leading/trailing '.' trimmed
    (:433-434); words truncate at MaxWordLen. The dot regexes only run
    on tokens that contain a dot (URL tokens) — body words skip them."""
    dotted = F.regexp_replace(
        F.regexp_replace(tok, r"\.{2,}", "."), r"^\.+|\.+$", ""
    )
    t = F.when(F.contains(tok, F.lit(".")), dotted).otherwise(tok)
    return F.substring(t, 1, MAXWORDLEN)


# pure-ASCII text can never match the alternation's non-ASCII branch,
# so the simple class regex extracts the identical token sequence at a
# fraction of the cost — and ~all real blocks are pure ASCII
_ASCII_TOKEN_RE = "[A-Za-z0-9.]+"


def _tok_struct_array(col, w_col):
    """Tokenize one text block into (word, capital, sec_w) structs,
    sec_w from a column (block weight = section base x style mult).

    ASCII fast path: `octet_length == length` (byte-cheap, no regex)
    detects pure-ASCII blocks, which tokenize with the simple class
    regex; only blocks containing a multi-byte char run the full
    two-branch alternation. Token sequences are identical by
    construction (the non-ASCII alternative can't fire on ASCII input),
    pinned by test_tokenizer_ascii_fast_path_equivalence."""
    filled = F.coalesce(col, F.lit(""))
    toks = F.when(
        F.octet_length(filled) == F.length(filled),
        F.regexp_extract_all(filled, F.lit(_ASCII_TOKEN_RE), F.lit(0)),
    ).otherwise(F.regexp_extract_all(filled, F.lit(_TOKEN_RE), F.lit(0)))
    cleaned = F.transform(toks, _clean_token_expr)
    kept = F.filter(cleaned, lambda t: F.length(t) > 0)
    # capital is only ever set in the reference's ASCII branch
    # (SearchEngine.cpp:412; the non-English branch never sets it, even
    # for embedded ASCII uppercase). Tokens start with an ASCII word
    # char or a non-ASCII char by construction (cleaning only trims
    # dots), so first-codepoint < 128 is the exact class gate — cheaper
    # than a per-token rlike.
    return F.transform(
        kept,
        lambda t: F.struct(
            _ascii_lower_expr(t).alias("word"),
            ((t != _ascii_lower_expr(t)) & (F.ascii(t) < 128)).alias(
                "capital"
            ),
            w_col.cast("double").alias("sec_w"),
        ),
    )


def _section_tok_array(col, sec_w: float):
    return _tok_struct_array(col, F.lit(sec_w))


def _acc_array_expr(
    url_col: str, title_col: str, body_col: str, blocks_col: str | None
):
    """The NATIVE acc-array construction (pre-r6 hot path, now the
    semantic anchor the Arrow kernel is pinned against)."""
    if blocks_col is not None:
        arr = F.flatten(
            F.transform(
                F.col(blocks_col),
                lambda b: _tok_struct_array(b["text"], b["w"]),
            )
        )
    else:
        arr = F.concat(
            _section_tok_array(F.col(url_col), URL_WEIGHT),
            _section_tok_array(F.col(title_col), TITLE_WEIGHT),
            _section_tok_array(F.col(body_col), BODY_WEIGHT),
        )
    pos_arr = F.transform(
        arr,
        lambda x, i: F.struct(
            x["word"].alias("word"),
            x["capital"].alias("capital"),
            x["sec_w"].alias("sec_w"),
            (i + 1).cast("int").alias("position"),
        ),
    )
    return F.filter(pos_arr, lambda x: ~x["word"].isin(*STOPWORDS_REF))


def tokenize_sections(
    docs: DataFrame,
    url_col: str = "url",
    title_col: str = "title",
    body_col: str = "body",
    doc_col: str = "doc_id",
    blocks_col: str | None = None,
) -> DataFrame:
    """(doc, url, title, body) -> the getWords token stream:
    (doc_id, word, capital, sec_w, position, decay_idx, n_acc).

    With `blocks_col` (array<struct<text string, w double>>) the page
    is instead an ordered list of weighted text blocks — the general
    form the reference's markup scan produces: each block's weight is
    its section base x the style amplifiers in force (<b> x2,
    <h1..h6> x{4.0,1.5,1.4,1.3,1.0,0.8} — SearchEngine.cpp:307,
    455-457; STYLE_MULTS maps span kinds to them). The 3-section
    column form is the special case [(url,40),(title,100),(body,1)].

    Mirrors the reference scan order URL -> Title -> Body
    (state machine SearchEngine.cpp:321-331): `position` is the 1-based
    global token index per doc (increments for stop words too, :478),
    `decay_idx` counts only accepted tokens (defactor decays inside the
    !filterWord branch, :459-460), `n_acc` = accepted tokens per doc.
    Stop-word filter = SearchEngine.h:597-611 (the six short words;
    only len<=4 words are ever checked and all six are <=4, so
    membership is the whole rule).

    Shape: pure per-doc ARRAY algebra — one scan, one explode, zero
    windows and zero shuffles (a getWords call is per-page in the
    reference too; nothing about it needs cross-row exchange). Both
    indexes come from array positions: `position` from the cleaned
    token array, `decay_idx` from the stop-filtered one.
    """
    acc_arr = _acc_array_expr(url_col, title_col, body_col, blocks_col)
    base = docs.select(F.col(doc_col).alias("doc_id"), acc_arr.alias("_acc"))
    return base.select(
        "doc_id",
        F.size("_acc").alias("n_acc"),
        F.posexplode("_acc").alias("_di", "_t"),
    ).select(
        "doc_id",
        F.col("_t.word").alias("word"),
        F.col("_t.capital").alias("capital"),
        F.col("_t.sec_w").alias("sec_w"),
        F.col("_t.position").alias("position"),
        (F.col("_di") + 1).cast("int").alias("decay_idx"),
        "n_acc",
    )


def build_weighted_postings(
    docs: DataFrame,
    url_col: str = "url",
    title_col: str = "title",
    body_col: str = "body",
    doc_col: str = "doc_id",
    page_rank: DataFrame | None = None,
    max_words: int = MAXWORDPERPAGE,
    n_term_partitions: int = 8,
    sorted_output: bool = True,
    blocks_col: str | None = None,
    token_stream: DataFrame | None = None,
    components: bool = False,
) -> DataFrame:
    """The reference-faithful index build (getWords,
    SearchEngine.cpp:306-490): per accepted token
    weight = sectionWeight * (capitalFactor if any uppercase)
                           * defactorMult^(accepted_idx-1),
    per (doc, word) keep the max-weight occurrence and its position
    (update only on strictly-greater rank, :467-471 -> earliest max
    wins), stop the scan once max_words distinct words were inserted
    (:466), then normalize rank *= pageRank / totalRank (:479-488).

    Deviation (documented): the reference resets instead of adjusting
    totalRank on an update (`totalRank = rank - old`, :468 — an
    order-dependent accumulator bug); we normalize by the sum of the
    final per-word ranks, which is what the surrounding code computes
    everywhere else. Bold/header multipliers (:307) arrive through
    `blocks_col`: styled spans fold their STYLE_MULTS amplifier into
    the block weight before tokenization (sec_w = base x mult).

    Output: postings(term, doc_id, pos, rank) range-partitioned +
    sorted by term (the 'finaldict' shape for pushdown pruning).
    """
    # token_stream lets a caller that ALSO consumes the raw stream
    # (e.g. phrase search) hand in one shared definition; when that
    # stream carries a repartition("doc_id"), Spark's ReuseExchange
    # evaluates the tokenizer once and serves both branches from the
    # same shuffle files — no cache needed.
    stream = (
        token_stream
        if token_stream is not None
        else tokenize_sections(
            docs, url_col, title_col, body_col, doc_col, blocks_col=blocks_col
        )
    )
    def _weight(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "weight",
            F.col("sec_w")
            * F.when(F.col("capital"), F.lit(CAPITAL_FACTOR)).otherwise(F.lit(1.0))
            * F.pow(F.lit(DECAY), (F.col("decay_idx") - 1).cast("double")),
        )

    def _cap_branch(weighted: DataFrame) -> DataFrame:
        # maxWordPerPage: the scan ends when the max_words-th DISTINCT
        # word is inserted — every later token (updates included) is
        # unseen. Fast path: a doc with <= max_words ACCEPTED tokens
        # can never bind the cap (distinct <= accepted), so only
        # over-cap docs pay the insertion-order windows.
        small = weighted.where(F.col("n_acc") <= max_words)
        big = weighted.where(F.col("n_acc") > max_words)
        first_pos = big.groupBy("doc_id", "word").agg(
            F.min("position").alias("_fp")
        )
        w_ins = W.partitionBy("doc_id").orderBy("_fp")
        cap_pos = (
            first_pos.withColumn("_ins", F.row_number().over(w_ins))
            .groupBy("doc_id")
            .agg(
                F.max(
                    F.when(F.col("_ins") == max_words, F.col("_fp"))
                ).alias("_cap")
            )
        )
        big_capped = (
            big.join(cap_pos, "doc_id", "left")
            .where(F.col("_cap").isNull() | (F.col("position") <= F.col("_cap")))
            .drop("_cap")
        )
        return small.unionByName(big_capped)

    if token_stream is not None:
        # caller-shared stream (e.g. search_phrase's doc_id-repartition
        # ReuseExchange): full cap machinery over it, as before
        capped = _cap_branch(_weight(stream))
    else:
        # r6: evaluate the tokenizer ONCE for ~every doc. The old plan
        # referenced the stream subtree from SIX branches (cap split,
        # over-cap windows, best⋈total self-join) — six tokenizer
        # evaluations per action, and AQE exchange reuse cannot save it
        # (the analyzer's self-join dedup aliases make the subtrees
        # canonically different). Instead the cap machinery is gated by
        # a cheap CONSERVATIVE length test the scan can evaluate
        # per-doc: every token needs >= 1 char and tokens in one block
        # are separated by >= 1 char, so n_acc <= (Σ len(text_b) + B)/2
        # — a doc under the gate provably cannot exceed max_words and
        # takes the single-reference fast branch; only docs above it
        # (> ~2·max_words chars of text — none at bench scale, rare on
        # the real web) run the multi-reference cap logic, with the
        # length predicate pushed into their scans. The best⋈total
        # self-join is gone too (window sum below).
        if blocks_col is not None:
            tot_len = F.aggregate(
                F.col(blocks_col),
                F.lit(0),
                lambda a, b: a + F.length(F.coalesce(b["text"], F.lit(""))),
            )
            n_blocks = F.size(F.col(blocks_col))
        else:
            tot_len = (
                F.length(F.coalesce(F.col(url_col), F.lit("")))
                + F.length(F.coalesce(F.col(title_col), F.lit("")))
                + F.length(F.coalesce(F.col(body_col), F.lit("")))
            )
            n_blocks = F.lit(3)
        maybe_over = (tot_len + n_blocks) > F.lit(2 * max_words)

        def _stream_of(d: DataFrame) -> DataFrame:
            return tokenize_sections(
                d, url_col, title_col, body_col, doc_col, blocks_col=blocks_col
            )

        under = _weight(_stream_of(docs.where(~F.coalesce(maybe_over, F.lit(True)))))
        over = _weight(_stream_of(docs.where(F.coalesce(maybe_over, F.lit(False)))))
        # one doc_id exchange feeds the best aggregate, the total
        # window and the pageRank join below — hash(doc_id) satisfies
        # each of their clustering requirements, so the whole build has
        # exactly one corpus-sized shuffle
        capped = under.unionByName(_cap_branch(over)).repartition("doc_id")

    # per (doc, word): max weight wins, earliest position on ties
    best = (
        capped.groupBy("doc_id", "word")
        .agg(F.max(F.struct(F.col("weight"), (-F.col("position")).alias("_np"))).alias("_m"))
        .select(
            "doc_id",
            "word",
            F.col("_m.weight").alias("_rank_raw"),
            (-F.col("_m._np")).cast("int").alias("pos"),
        )
    )
    # per-doc normalizer as a window sum — NOT best.groupBy(doc_id) +
    # self-join, which re-evaluated the entire upstream build a second
    # time (r6; row values identical, join order was never semantic)
    out = best.withColumn(
        "_tot", F.sum("_rank_raw").over(W.partitionBy("doc_id"))
    )
    if components:
        # Incremental-index form: everything above this point is a PURE
        # PER-DOC function (tokenize -> weight -> per-doc max -> per-doc
        # total), so these rows are append-only across crawl rounds. The
        # global pageRank factor — the only corpus-dependent input — is
        # applied later by `factor_postings` with the exact final-rank
        # expression, so base ∘ factor is bit-equal to the one-shot
        # build. rank_raw/tot stay unrounded doubles (parquet round-trips
        # them exactly); rounding before the factor would change the
        # result.
        base = out.select(
            F.col("word").alias("term"),
            "doc_id",
            "pos",
            F.col("_rank_raw").alias("rank_raw"),
            F.col("_tot").alias("tot"),
        )
        if not sorted_output:
            return base
        return base.repartitionByRange(
            n_term_partitions, "term"
        ).sortWithinPartitions("term", "doc_id")
    pr = page_rank if page_rank is not None else None
    if pr is not None:
        out = out.join(pr, "doc_id", "left").withColumn(
            "_pr", F.coalesce(F.col("page_rank"), F.lit(1.0))
        )
    else:
        out = out.withColumn("_pr", F.lit(1.0))
    postings = out.select(
        F.col("word").alias("term"),
        "doc_id",
        "pos",
        F.round(F.col("_rank_raw") * F.col("_pr") / F.col("_tot"), 6).alias("rank"),
    )
    if not sorted_output:
        # ephemeral use (a one-shot search over a freshly built dict):
        # repartitionByRange SAMPLES its input, which evaluates the
        # whole build twice — only pay that when the dict is persisted
        return postings
    return postings.repartitionByRange(n_term_partitions, "term").sortWithinPartitions(
        "term", "rank", "doc_id"
    )


def factor_postings(base: DataFrame, page_rank: DataFrame | None) -> DataFrame:
    """Apply the global pageRank factor to component postings
    (term, doc_id, pos, rank_raw, tot) -> (term, doc_id, pos, rank).

    This is the read-time half of the incremental index: the same
    expression tree as the one-shot build's normalization
    (round(rank_raw * pr / tot, 6), SearchEngine.cpp:479-488 — same
    operand order, so the same doubles produce the same bits). The
    join is per-doc-keyed and sits ABOVE the base scan, so a search's
    term predicate still pushes down to the sorted base files before
    the factor join touches anything."""
    out = base
    if page_rank is not None:
        out = out.join(page_rank, "doc_id", "left").withColumn(
            "_pr", F.coalesce(F.col("page_rank"), F.lit(1.0))
        )
    else:
        out = out.withColumn("_pr", F.lit(1.0))
    return out.select(
        "term",
        "doc_id",
        "pos",
        F.round(F.col("rank_raw") * F.col("_pr") / F.col("tot"), 6).alias("rank"),
    )


def expand_word_term(postings: DataFrame, term: str) -> DataFrame:
    """The dict range compare (DictWord::cmp, SearchEngine.h:389-415):
    a query term matches every dict word it prefixes where the char
    AFTER the prefix is not an ASCII letter — 'sort' matches 'sort',
    'sort.x', 'sort9' but NOT 'sorted'. Dict words are lowercased, so
    the boundary test is [a-z]."""
    nxt = F.substring("term", len(term) + 1, 1)
    return postings.where(
        (F.col("term") == term)
        | (F.col("term").startswith(term) & ~nxt.rlike("^[a-z]$"))
    )


def expand_word_term_sql(term: str) -> str:
    """DuckDB twin of the boundary-rule predicate over a `term` column."""
    n = len(term)
    t = term.replace("'", "''")
    return (
        f"(term = '{t}' OR (starts_with(term, '{t}') "
        f"AND NOT regexp_matches(substr(term, {n + 1}, 1), '^[a-z]$')))"
    )


def build_postings(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    n_term_partitions: int = 8,
) -> DataFrame:
    """(doc, text) -> postings(term, doc_id, first_pos, tf, rank),
    range-partitioned + sorted by term (the 'finaldict' equivalent).

    rank = tf / n_words (A5's per-page normalization: total weight per
    page sums to ~1, mirroring rank *= pageRank/totalRank with
    pageRank=1).
    """
    words = docs.select(
        F.col(doc_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "term"),
        F.size(F.split(F.col(text_col), " ")).alias("n_words"),
    ).where(F.length("term") > 0)
    agg = words.groupBy("doc_id", "term").agg(
        (F.min("pos") + 1).alias("first_pos"),  # 1-based like list_position
        F.count("*").alias("tf"),
        F.first("n_words").alias("_n"),
    )
    postings = agg.select(
        "term",
        "doc_id",
        "first_pos",
        "tf",
        F.round(F.col("tf") / F.col("_n"), 6).alias("rank"),
    )
    return postings.repartitionByRange(n_term_partitions, "term").sortWithinPartitions(
        "term", "rank", "doc_id"
    )


def build_small_postings(postings: DataFrame, pos_col: str | None = None) -> DataFrame:
    """A6: truncate terms to SMALLWORDSIZE bytes, keep the max-rank
    instance per (doc, short term); deterministic tie-break by term.
    Works over both the tf-postings (first_pos/tf/rank) and the
    weighted dict (pos/rank) schemas.

    Shape (r6): argmin-struct aggregate, not a row_number window — the
    pick order (rank DESC, term ASC) becomes min(struct(-rank, term,
    carry...)), which partial-aggregates map-side instead of
    sort-shuffling every posting row. (doc_id, term) is unique in both
    input schemas, so (-rank, term) already identifies one row and the
    carried columns ride along unchanged."""
    carry = [
        c
        for c in ([pos_col] if pos_col else ["first_pos", "tf"])
        if c in postings.columns
    ]
    pick = F.min(
        F.struct(
            (-F.col("rank")).alias("_nr"),
            F.col("term").alias("_t"),
            *[F.col(c).alias(c) for c in carry],
        )
    ).alias("_m")
    return (
        postings.withColumn("sterm", F.substring("term", 1, SMALLWORDSIZE))
        .groupBy("doc_id", "sterm")
        .agg(pick)
        .select(
            "sterm",
            "doc_id",
            *[F.col(f"_m.{c}").alias(c) for c in carry],
            (-F.col("_m._nr")).alias("rank"),
        )
    )


def _min_posdiff(i: int, j: int):
    """PosRanks::positionDiff (PageSearcher.cpp:180-189): min |p - q|
    over the kept position pairs of adjacent query terms."""
    big = F.lit(65535)
    diffs = [F.abs(F.col(f"p{i}a") - F.col(f"p{j}a"))]
    diffs.append(F.coalesce(F.abs(F.col(f"p{i}a") - F.col(f"p{j}b")), big))
    diffs.append(F.coalesce(F.abs(F.col(f"p{i}b") - F.col(f"p{j}a")), big))
    diffs.append(F.coalesce(F.abs(F.col(f"p{i}b") - F.col(f"p{j}b")), big))
    return F.least(*diffs)


def _norm_small(small_postings: DataFrame) -> DataFrame:
    """Small dict (sterm, doc_id, pos|first_pos, rank) -> the search
    shape (term, doc_id, pos, rank)."""
    return _norm_postings(small_postings.withColumnRenamed("sterm", "term"))


def _tagged_top2(
    postings: DataFrame,
    idx_terms: list[tuple[int, str]],
    max_search: int,
    exact: bool = False,
) -> DataFrame:
    """ONE pass over a dict: tag each posting with every query term it
    matches (separate filter-branches would re-evaluate the whole
    upstream dict build once per term in an ephemeral plan), then
    PosRanks top-2 per (doc, term) via a bounded sort_array/slice
    aggregate — no windows on the big input. `idx_terms` carries the
    GLOBAL term index so sides from different dicts union cleanly.
    exact=True is the small dict's null-terminated memcmp (term
    equality); exact=False the main dict's prefix+boundary partial
    compare (DictWord::cmp, SearchEngine.h:389-415). PosRanks tie rule
    (PageSearcher.cpp:153-189): the reference's add() replaces the
    min-rank slot only on strictly-greater rank while scanning in dict
    order, so ties keep the earlier dict word — deterministic twin:
    sort by (rank desc, term asc, pos asc), keep 2."""
    if exact:
        conds = [(i, F.col("term") == t) for i, t in idx_terms]
    else:
        conds = [
            (
                i,
                (F.col("term") == t)
                | (
                    F.col("term").startswith(t)
                    & ~F.substring("term", len(t) + 1, 1).rlike("^[a-z]$")
                ),
            )
            for i, t in idx_terms
        ]
    tag_arr = F.array(
        *[F.when(c, F.lit(i)).otherwise(F.lit(None).cast("int")) for i, c in conds]
    )
    tagged = postings.select(
        "doc_id",
        "term",
        "pos",
        "rank",
        F.explode(F.filter(tag_arr, lambda x: x.isNotNull())).alias("_ti"),
    )
    if max_search is not None and max_search < MAX_SEARCH:
        # per-term read cap (PageSearcher.cpp:425); only on the capped
        # path — k partitions is fine there, the cap bounds the data
        w_cap = W.partitionBy("_ti").orderBy(F.desc("rank"), "term", "doc_id")
        tagged = (
            tagged.withColumn("_cr", F.row_number().over(w_cap))
            .where(F.col("_cr") <= max_search)
            .drop("_cr")
        )
    return (
        tagged.groupBy("doc_id", "_ti")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            (-F.col("rank")).alias("nr"),
                            F.col("term").alias("t"),
                            F.col("pos").alias("p"),
                        )
                    )
                ),
                1,
                2,
            ).alias("_k")
        )
        .select(
            "doc_id",
            "_ti",
            (
                -F.element_at("_k", 1)["nr"]
                + F.coalesce(-F.element_at("_k", 2)["nr"], F.lit(0.0))
            ).alias("_trank"),
            F.element_at("_k", 1)["p"].alias("_pa"),
            F.element_at("_k", 2)["p"].alias("_pb"),
        )
    )


def _routed_top2(
    postings: DataFrame,
    small_n: DataFrame | None,
    idx_terms: list[tuple[int, str]],
    max_search: int,
) -> DataFrame:
    """Dict routing for a batch of word terms, IN-PLAN
    (PageSearcher.cpp:412-419): a per-term route_small() probe is a
    separate Spark action — over an ephemeral dict each action re-runs
    the whole build, and over a persisted dict a k-term query pays k
    driver round-trips. Instead both branches live in one plan: the
    small batch contributes exact matches for every eligible term
    (absent terms contribute nothing — exactly the empty-range fallback
    condition), and the main batch drops an eligible term's rows via a
    broadcast anti-join against the small dict's present-term set. One
    action regardless of term count; the dict-build exchanges are
    shared across branches by ReuseExchange. Returns the tagged-top2
    shape (doc_id, _ti, _trank, _pa, _pb)."""
    elig = [
        (i, t)
        for i, t in idx_terms
        if small_n is not None and len(t) <= SMALLWORDSIZE
    ]
    if not elig:
        return _tagged_top2(postings, idx_terms, max_search)
    # r6 single-lineage routing. The former three-frame shape (main
    # tagged pass + small-dict probe + small tagged pass, glued by an
    # anti-join) re-evaluated the ephemeral dict build once per frame
    # at runtime — the barrier'd shared exchange is NOT reused across
    # self-join branches (analyzer dedup re-aliases them; observed:
    # three distinct exchange plan_ids, 14 tokenizer Generates). Here
    # ONE tagged pass carries both dict arms:
    # * kind=0 (main): the prefix+boundary expansion, exactly as
    #   _tagged_top2;
    # * kind=1 (small): substring(term, 1, SMALLWORDSIZE) == t — the
    #   same rows that form the small dict's exact range for t, since
    #   the A6 small dict is BY CONSTRUCTION the argmin reduction of
    #   these rows per (doc, sterm) (callers pass small =
    #   build_small_postings(postings); a persisted small dict carries
    #   identical content by the refresh contract). The per-(doc, ti)
    #   argmin of the kind=1 group IS the small-dict row: max rank,
    #   ties to the lexicographically first term — the same pick rule.
    # Routing (PageSearcher.cpp:412-419 "use the small range when
    # non-empty") becomes a window over _ti: any kind=1 row anywhere
    # means the term is small-served and its main rows drop.
    conds: list[tuple[int, int, object]] = []
    for i, t in idx_terms:
        conds.append(
            (
                i,
                0,
                (F.col("term") == t)
                | (
                    F.col("term").startswith(t)
                    & ~F.substring("term", len(t) + 1, 1).rlike("^[a-z]$")
                ),
            )
        )
    for i, t in elig:
        conds.append((i, 1, F.substring("term", 1, SMALLWORDSIZE) == t))
    tag_arr = F.array(
        *[
            F.when(
                c, F.struct(F.lit(i).alias("i"), F.lit(k).alias("k"))
            ).otherwise(F.lit(None))
            for i, k, c in conds
        ]
    )
    tagged = postings.select(
        "doc_id",
        "term",
        "pos",
        "rank",
        F.explode(F.filter(tag_arr, lambda x: x.isNotNull())).alias("_tk"),
    ).select(
        "doc_id",
        "term",
        "pos",
        "rank",
        F.col("_tk.i").alias("_ti"),
        F.col("_tk.k").alias("_kind"),
    )
    if max_search is not None and max_search < MAX_SEARCH:
        # per-term read cap (PageSearcher.cpp:425), per dict arm — the
        # same order as the former per-frame caps
        w_cap = W.partitionBy("_ti", "_kind").orderBy(
            F.desc("rank"), "term", "doc_id"
        )
        tagged = (
            tagged.withColumn("_cr", F.row_number().over(w_cap))
            .where(F.col("_cr") <= max_search)
            .drop("_cr")
        )
    top2 = (
        tagged.groupBy("doc_id", "_ti", "_kind")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            (-F.col("rank")).alias("nr"),
                            F.col("term").alias("t"),
                            F.col("pos").alias("p"),
                        )
                    )
                ),
                1,
                2,
            ).alias("_k")
        )
        .select(
            "doc_id",
            "_ti",
            "_kind",
            # small arm: the argmin pick alone (the small dict holds ONE
            # row per (doc, sterm)); main arm: PosRanks top-2 sum
            F.when(
                F.col("_kind") == 1, -F.element_at("_k", 1)["nr"]
            )
            .otherwise(
                -F.element_at("_k", 1)["nr"]
                + F.coalesce(-F.element_at("_k", 2)["nr"], F.lit(0.0))
            )
            .alias("_trank"),
            F.element_at("_k", 1)["p"].alias("_pa"),
            F.when(
                F.col("_kind") == 1, F.lit(None).cast("int")
            )
            .otherwise(F.element_at("_k", 2)["p"])
            .alias("_pb"),
        )
    )
    w_ti = W.partitionBy("_ti")
    n_small = F.sum(
        F.when(F.col("_kind") == 1, F.lit(1)).otherwise(F.lit(0))
    ).over(w_ti)
    return (
        top2.withColumn("_ns", n_small)
        .where((F.col("_kind") == 1) | (F.col("_ns") == 0))
        .select("doc_id", "_ti", "_trank", "_pa", "_pb")
    )


def _pivot_top2(
    top2: DataFrame, idxs: list[int], require_all: bool = True
) -> DataFrame:
    """Tagged-top2 rows -> one row per doc with trank_i/p{i}a/p{i}b
    columns for the given term indices; `require_all` enforces AND
    semantics (every term present) — the batch tier pivots over the
    UNION of all queries' terms and applies each query's own AND in
    its projection instead."""
    aggs = []
    for i in idxs:
        aggs += [
            F.max(F.when(F.col("_ti") == i, F.col("_trank"))).alias(f"trank_{i}"),
            F.max(F.when(F.col("_ti") == i, F.col("_pa"))).alias(f"p{i}a"),
            F.max(F.when(F.col("_ti") == i, F.col("_pb"))).alias(f"p{i}b"),
        ]
    joined = top2.groupBy("doc_id").agg(*aggs)
    if require_all:
        for i in idxs:  # AND semantics: every term present
            joined = joined.where(F.col(f"trank_{i}").isNotNull())
    return joined


def search_weighted(
    postings: DataFrame,
    terms: list[str],
    docs_meta: DataFrame | None = None,
    host_col: str = "host",
    k: int = MAX_SHOW,
    max_search: int = MAX_SEARCH,
    small: DataFrame | None = None,
) -> DataFrame:
    """Multi-term AND search over the weighted dict with the reference's
    full ranking semantics:

    * dict routing (PageSearcher.cpp:412-419): with a small dict
      present, each query word of length <= SMALLWORDSIZE probes it
      first (exact-match range — DictWordSmall cmp is a null-terminated
      memcmp) and uses it when non-empty; everything else expands
      through the MAIN dict's prefix+boundary range compare
      (expand_word_term — SearchEngine.h:389-415), capped at max_search
      postings per term (PageSearcher.cpp:425; deterministic twin of
      the tail-of-range cap: top by rank desc, term, doc);
    * per (doc, term) PosRanks top-2 -> termRank = sum of kept ranks;
    * coRank = prod over adjacent terms of max(0.9^(minPosDiff-1), 1e-6)
      (PageSearcher.cpp:271-288), score = sum(termRanks) * coRank;
    * top-K then best-doc-per-host + n_more (A9).
    """
    postings = _norm_postings(postings)
    small_n = _norm_small(small) if small is not None else None
    n = len(terms)
    top2 = _routed_top2(postings, small_n, list(enumerate(terms)), max_search)
    joined = _pivot_top2(top2, list(range(n)))
    return _score_joined(joined, n, k, docs_meta, host_col)


def _norm_postings(p: DataFrame) -> DataFrame:
    """Accept both the weighted dict (pos) and tf-postings (first_pos)."""
    if "pos" not in p.columns and "first_pos" in p.columns:
        return p.withColumnRenamed("first_pos", "pos")
    return p


def search_weighted_batch(
    postings: DataFrame,
    queries: dict[str, list[str]],
    docs_meta: DataFrame | None = None,
    host_col: str = "host",
    k: int = MAX_SHOW,
    max_search: int = MAX_SEARCH,
) -> DataFrame:
    """Evaluate MANY queries against the dict in ONE action — the
    amortization a serve-one-query-at-a-time engine structurally cannot
    do (the reference re-walks its dict per request,
    PageSearcher.cpp:400-440; a Spark search tier batches the request
    log and pays the dict scan once per batch, not per query).

    Two sharing levels, both in-plan:

    * TERM sharing: the union of all queries' terms is tagged in one
      ``_tagged_top2`` pass with a GLOBAL term index, so a term used by
      five queries is boundary-expanded and top-2-reduced once, not
      five times.
    * PASS sharing: ONE pivot of the tagged-top2 frame over every
      global term index; each query's score is a projection column of
      that single frame, exploded into (query_id, score) rows. One
      lineage, so the dict build is evaluated once without any
      exchange-reuse machinery.

    Per-query semantics are EXACTLY :func:`search_weighted` (main-dict
    boundary expansion, PosRanks top-2, min-posdiff coRank, top-K, host
    dedup) — pinned per query by
    tests/test_index_pipeline.py::test_search_batch_matches_single.
    Terms within one query must be distinct. Plan size grows linearly
    with the batch (one scoring subplan per query): batches of
    hundreds are fine; a request-log-scale tier (10^5+ queries/batch)
    should instead join a queries TABLE against the tagged frame and
    score with grouped aggregates.

    Returns (query_id, doc_id, score, host?, n_more_from_host?) —
    host columns only when docs_meta is given.
    """
    postings = _norm_postings(postings)
    g_idx: dict[str, int] = {}
    for terms in queries.values():
        if len(set(terms)) != len(terms):
            raise ValueError("terms within one query must be distinct")
        for t in terms:
            g_idx.setdefault(t, len(g_idx))
    idx_terms = [(i, t) for t, i in g_idx.items()]
    top2 = _tagged_top2(postings, idx_terms, max_search)
    # r6: ONE pivot over ALL global term indices, then every query's
    # score as a projection COLUMN of that single frame — exploded into
    # (query_id, score) rows. The former shape (per-query branches over
    # a barrier'd shared exchange, unioned) re-evaluated the ENTIRE
    # upstream dict build once per query at runtime: the analyzer's
    # self-union dedup re-aliases each branch, the exchange subtrees
    # stop being canonically identical, and AQE reuse never fires
    # (observed live: 4 queries -> 4 distinct exchange plan_ids, 20
    # tokenizer Generates). A single lineage needs no reuse machinery
    # at all. Per-query rows are unchanged: the when(AND-semantics,
    # score) projection, the per-query rank<=k window and the per-
    # (query, host) dedup window reproduce _score_joined/_host_dedup
    # exactly (pinned by test_search_batch_matches_single).
    piv = _pivot_top2(top2, [i for i, _ in idx_terms], require_all=False)

    def _q_score(terms: list[str]):
        gidxs = [g_idx[t] for t in terms]
        present = reduce(
            lambda a, b: a & b,
            [F.col(f"trank_{g}").isNotNull() for g in gidxs],
        )
        sum_rank = reduce(
            lambda a, b: a + b, [F.col(f"trank_{g}") for g in gidxs]
        )
        co = F.lit(1.0)
        for i in range(len(gidxs) - 1):
            diff = _min_posdiff(gidxs[i], gidxs[i + 1]) - 1
            co = co * F.greatest(
                F.pow(F.lit(CORANK_DECAY), diff.cast("double")),
                F.lit(CORANK_MIN),
            )
        return present, F.round(sum_rank * co, 6)

    q_structs = []
    for qid in sorted(queries):
        present, score = _q_score(queries[qid])
        q_structs.append(
            F.when(
                present,
                F.struct(
                    F.lit(qid).alias("query_id"), score.alias("score")
                ),
            )
        )
    scored = piv.select(
        "doc_id",
        F.explode(
            F.filter(F.array(*q_structs), lambda s: s.isNotNull())
        ).alias("_qs"),
    ).select("doc_id", F.col("_qs.query_id").alias("query_id"), F.col("_qs.score").alias("score"))
    w_top = W.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    topk = (
        scored.withColumn("_rn", F.row_number().over(w_top))
        .where(F.col("_rn") <= k)
        .drop("_rn")
        .select("query_id", "doc_id", "score")
    )
    if docs_meta is None:
        return topk
    with_host = topk.join(
        docs_meta.select(F.col("doc_id"), F.col(host_col).alias("host")), "doc_id"
    )
    w_h = W.partitionBy("query_id", "host").orderBy(F.desc("score"), "doc_id")
    return (
        with_host.withColumn("_rn", F.row_number().over(w_h))
        .withColumn("_nh", F.count("*").over(W.partitionBy("query_id", "host")))
        .where(F.col("_rn") == 1)
        .select(
            "query_id",
            "doc_id",
            "score",
            "host",
            (F.col("_nh") - 1).alias("n_more_from_host"),
        )
    )


def queries_table(spark, queries: dict[str, list[str]]) -> DataFrame:
    """Request-log shape for :func:`search_batch_joined`: one row per
    (query_id, q_pos, term). Enforces the within-query distinct-terms
    contract driver-side (same rule as search_weighted_batch; the
    joined form cannot cheaply detect it in-plan)."""
    rows = []
    for qid in sorted(queries):
        terms = queries[qid]
        if len(set(terms)) != len(terms):
            raise ValueError("terms within one query must be distinct")
        rows += [(qid, i, t) for i, t in enumerate(terms)]
    return spark.createDataFrame(rows, "query_id string, q_pos int, term string")


# Boundary-prefix key generation (posting side): a dict word w matches
# query term t under DictWord::cmp's prefix+boundary rule
# (SearchEngine.h:389-415) iff t == w, OR t is a prefix of w and the
# char after t is outside [a-z]. Inverted: the ONLY query terms w can
# match are w's own boundary prefixes — w[:i] for every i whose next
# char is non-[a-z] (the empty next char at i = len(w) compares < 'a',
# covering equality). Emitting those keys turns the per-term literal
# scan into an equi-join. Expansion factor = 1 + (# non-[a-z] chars in
# w): exactly 1 for a plain lowercase word, ~2-3 for '.'-folded terms.
_BOUNDARY_PREFIXES = (
    "transform("
    " filter(sequence(1, length(term)),"
    "  i -> substring(term, i + 1, 1) < 'a' or substring(term, i + 1, 1) > 'z'),"
    " i -> substring(term, 1, i))"
)


def search_batch_joined(
    postings: DataFrame,
    queries_df: DataFrame,
    docs_meta: DataFrame | None = None,
    host_col: str = "host",
    k: int = MAX_SHOW,
    max_search: int = MAX_SEARCH,
) -> DataFrame:
    """Request-log-scale batched search: the queries are a TABLE
    (query_id, q_pos, term) and the plan is FIXED-SIZE regardless of
    batch size — the scale tier :func:`search_weighted_batch`'s
    docstring promises (its per-query scoring branches grow the plan
    linearly; fine at hundreds, not at 10^5+ queries/batch).

    Shape (all JVM-side, no per-query anything):

    1. each posting explodes into its boundary-prefix join keys
       (``_BOUNDARY_PREFIXES`` above — the inverse of the main dict's
       prefix+boundary compare, DictWord::cmp SearchEngine.h:389-415),
    2. equi-join against the DISTINCT query-term table (broadcast: even
       10^6 distinct terms is ~20 MB; drop the hint beyond that and it
       degrades gracefully to a shuffle join),
    3. PosRanks top-2 per (doc, term) — one bounded sort_array/slice
       aggregate shared by every query using that term,
    4. join back to the queries table and score per (query_id, doc_id)
       with grouped aggregates: AND semantics = matched-term count
       equals the query's term count; coRank = fold over the q_pos-
       sorted position structs with the same min-posdiff/decay/clamp
       arithmetic as :func:`_score_joined`,
    5. per-query top-K + host dedup via query-partitioned windows.

    Per-query results are EXACTLY search_weighted's main-dict path
    (batch forms are main-dict-only, like search_weighted_batch) —
    pinned by tests/test_operators.py::
    test_search_batch_joined_matches_branch_form. Terms within one
    query must be distinct (build the table with :func:`queries_table`
    to get the driver-side check).

    Returns (query_id, doc_id, score[, host, n_more_from_host]).
    """
    postings = _norm_postings(postings)
    qd = queries_df.withColumn(
        "n_terms", F.count("*").over(W.partitionBy("query_id"))
    ).withColumnRenamed("term", "qterm")
    qt = qd.select("qterm").distinct()
    matched = postings.select(
        "doc_id",
        "term",
        "pos",
        "rank",
        F.explode(F.expr(_BOUNDARY_PREFIXES)).alias("qterm"),
    ).join(F.broadcast(qt), "qterm")
    if max_search is not None and max_search < MAX_SEARCH:
        # per-term read cap (PageSearcher.cpp:425), same deterministic
        # order as _tagged_top2's capped path
        w_cap = W.partitionBy("qterm").orderBy(F.desc("rank"), "term", "doc_id")
        matched = (
            matched.withColumn("_cr", F.row_number().over(w_cap))
            .where(F.col("_cr") <= max_search)
            .drop("_cr")
        )
    top2 = (
        matched.groupBy("doc_id", "qterm")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            (-F.col("rank")).alias("nr"),
                            F.col("term").alias("t"),
                            F.col("pos").alias("p"),
                        )
                    )
                ),
                1,
                2,
            ).alias("_k")
        )
        .select(
            "doc_id",
            "qterm",
            (
                -F.element_at("_k", 1)["nr"]
                + F.coalesce(-F.element_at("_k", 2)["nr"], F.lit(0.0))
            ).alias("_trank"),
            F.element_at("_k", 1)["p"].alias("_pa"),
            F.element_at("_k", 2)["p"].alias("_pb"),
        )
    )
    grouped = (
        top2.join(F.broadcast(qd), "qterm")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count("*").alias("_nt"),
            F.max("n_terms").alias("_need"),
            F.sum("_trank").alias("_sum"),
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("q_pos").alias("i"),
                        F.col("_pa").alias("a"),
                        F.col("_pb").alias("b"),
                    )
                )
            ).alias("_ps"),
        )
    )
    # coRank fold over adjacent q_pos-sorted terms: same four-way
    # min-posdiff (PosRanks::positionDiff, PageSearcher.cpp:180-189)
    # and per-pair greatest(decay^(d-1), 1e-6) clamp as _score_joined.
    # sequence(1, 0) would count DOWN (step -1), so guard size < 2.
    co = F.when(F.size("_ps") < 2, F.lit(1.0)).otherwise(
        F.expr(
            f"aggregate(sequence(1, size(_ps) - 1), cast(1.0 as double),"
            f" (acc, i) -> acc * greatest(power({CORANK_DECAY},"
            f"  least("
            f"   abs(_ps[i-1].a - _ps[i].a),"
            f"   coalesce(abs(_ps[i-1].a - _ps[i].b), 65535),"
            f"   coalesce(abs(_ps[i-1].b - _ps[i].a), 65535),"
            f"   coalesce(abs(_ps[i-1].b - _ps[i].b), 65535)"
            f"  ) - 1), {CORANK_MIN}))"
        )
    )
    scored = grouped.where(F.col("_nt") == F.col("_need")).select(
        "query_id", "doc_id", F.round(F.col("_sum") * co, 6).alias("score")
    )
    w_top = W.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    topk = (
        scored.withColumn("_rn", F.row_number().over(w_top))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
    if docs_meta is None:
        return topk
    with_host = topk.join(
        docs_meta.select(F.col("doc_id"), F.col(host_col).alias("host")), "doc_id"
    )
    w_h = W.partitionBy("query_id", "host").orderBy(F.desc("score"), "doc_id")
    return (
        with_host.withColumn("_rn", F.row_number().over(w_h))
        .withColumn("_nh", F.count("*").over(W.partitionBy("query_id", "host")))
        .where(F.col("_rn") == 1)
        .select(
            "query_id",
            "doc_id",
            "score",
            "host",
            (F.col("_nh") - 1).alias("n_more_from_host"),
        )
    )


def _score_joined(
    joined: DataFrame,
    n: int,
    k: int,
    docs_meta: DataFrame | None,
    host_col: str = "host",
) -> DataFrame:
    sum_rank = reduce(lambda a, b: a + b, [F.col(f"trank_{i}") for i in range(n)])
    co = F.lit(1.0)
    for i in range(n - 1):
        diff = _min_posdiff(i, i + 1) - 1
        co = co * F.greatest(
            F.pow(F.lit(CORANK_DECAY), diff.cast("double")), F.lit(CORANK_MIN)
        )
    scored = (
        joined.select("doc_id", F.round(sum_rank * co, 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )
    if docs_meta is None:
        return scored
    return _host_dedup(scored, docs_meta, host_col)


def _host_dedup(scored: DataFrame, docs_meta: DataFrame, host_col: str) -> DataFrame:
    with_host = scored.join(
        docs_meta.select(F.col("doc_id"), F.col(host_col).alias("host")), "doc_id"
    )
    w = W.partitionBy("host").orderBy(F.desc("score"), "doc_id")
    return (
        with_host.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_host_docs", F.count("*").over(W.partitionBy("host")))
        .where(F.col("_rn") == 1)
        .select(
            "doc_id",
            "score",
            "host",
            (F.col("n_host_docs") - 1).alias("n_more_from_host"),
        )
        .orderBy(F.desc("score"), "doc_id")
    )


def phrase_doc_matches(
    tokens: DataFrame, phrase_words: list[str]
) -> DataFrame:
    """True adjacent-position phrase match over the token stream
    (doc_id, word, position): the reference stores phrases as dict
    entries (getWords' '.'/' '-folding builds them) and matches the
    quoted string by prefix compare (SearchEngine.h:389-404); the
    positional equivalent is requiring each phrase word at its exact
    offset from the anchor. Stop words inside the phrase occupy their
    position but add no constraint (they are unindexed, exactly like
    the reference's filterWord drop).

    Returns (doc_id, start) — start = position of the first word."""
    parts = [
        (i, w.lower())
        for i, w in enumerate(phrase_words)
        if w.lower() not in STOPWORDS_REF
    ]
    if not parts:
        raise ValueError("phrase contains only stop words")
    o0, w0 = parts[0]
    out = tokens.where(F.col("word") == w0).select(
        "doc_id", (F.col("position") - o0).alias("start")
    )
    for oi, wi in parts[1:]:
        nxt = tokens.where(F.col("word") == wi).select(
            "doc_id", (F.col("position") - oi).alias("start")
        )
        out = out.join(nxt, ["doc_id", "start"], "left_semi")
    return out.distinct()


def parse_query(q: str) -> list[dict]:
    """splitSentence, PageSearcher.cpp:69-108: whitespace-split terms;
    double-quoted spans become phrase terms; a trailing '*' marks a
    prefix term (the sorted-dict prefix mode, SearchEngine.h:389-415).

    Returns [{"term": str, "kind": "word"|"phrase"|"prefix"}].
    """
    out: list[dict] = []
    i, n = 0, len(q)
    while i < n:
        if q[i].isspace():
            i += 1
            continue
        if q[i] == '"':
            j = q.find('"', i + 1)
            if j < 0:
                j = n
            phrase = " ".join(q[i + 1 : j].split())
            if phrase:
                out.append({"term": phrase, "kind": "phrase"})
            i = j + 1
            continue
        j = i
        while j < n and not q[j].isspace():
            j += 1
        w = q[i:j]
        if w.endswith("*") and len(w) > 1:
            out.append({"term": w[:-1], "kind": "prefix"})
        elif w:
            out.append({"term": w, "kind": "word"})
        i = j
    return out


def _phrase_side(
    postings: DataFrame, tokens: DataFrame, phrase: str, idx: int
) -> DataFrame:
    """Quoted-phrase term: adjacency matches from the token stream,
    ranked by the anchor word's posting. Up to two match starts are
    kept (the PosRanks shape); termRank = anchor rank summed over the
    kept matches — the positional analogue of the reference's two
    matched phrase-dict entries (which carry near-identical ranks for
    the same page)."""
    words = phrase.split()
    matches = phrase_doc_matches(tokens, words)
    parts = [(i, w.lower()) for i, w in enumerate(words) if w.lower() not in STOPWORDS_REF]
    o0, w0 = parts[0]
    w = W.partitionBy("doc_id").orderBy("start")
    kept = matches.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= 2)
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("_nk"),
        F.min(F.when(F.col("_rn") == 1, F.col("start") + o0)).alias(f"p{idx}a"),
        F.min(F.when(F.col("_rn") == 2, F.col("start") + o0)).alias(f"p{idx}b"),
    )
    anchor = postings.where(F.col("term") == w0).select("doc_id", "rank")
    return agg.join(anchor, "doc_id").select(
        "doc_id",
        (F.col("rank") * F.col("_nk")).alias(f"trank_{idx}"),
        f"p{idx}a",
        f"p{idx}b",
    )


def _expand_prefixes(
    postings: DataFrame, idx_prefixes: list[tuple[int, str]]
) -> dict[int, str]:
    """Most-common-dict-word expansion for trailing-'*' terms
    (PageSearcher.cpp:521-540 class: pick the most common dict word the
    prefix matches, then search THAT word), batched: every prefix term
    shares ONE plan — each posting is tagged with every prefix it
    startswith (same tag-array shape as _tagged_top2), counts roll up
    per (prefix, word), and the per-prefix argmax is taken in-plan
    (min of (-n, word): most common wins, ties to the lexicographically
    first word — identical to the former ORDER BY n DESC, term LIMIT 1)
    so the collect returns at most one tiny row per prefix term.
    Returns {parse-position: chosen word}; positions with no matching
    dict word are absent (the caller drops them without consuming a
    term slot — that emptiness decision is why this stays a driver
    action at all)."""
    if not idx_prefixes:
        return {}
    tag_arr = F.array(
        *[
            F.when(F.col("term").startswith(t), F.lit(j)).otherwise(
                F.lit(None).cast("int")
            )
            for j, t in idx_prefixes
        ]
    )
    rows = (
        postings.select(
            F.explode(F.filter(tag_arr, lambda x: x.isNotNull())).alias("_pi"),
            "term",
        )
        .groupBy("_pi", "term")
        .agg(F.count("*").alias("n"))
        .groupBy("_pi")
        .agg(
            F.min(
                F.struct((-F.col("n")).alias("nn"), F.col("term").alias("t"))
            ).alias("_c")
        )
        .collect()
    )
    return {r["_pi"]: r["_c"]["t"] for r in rows}


def search_query(
    postings: DataFrame,
    q: str,
    docs_meta: DataFrame | None = None,
    host_col: str = "host",
    k: int = MAX_SHOW,
    tokens: DataFrame | None = None,
    max_search: int = MAX_SEARCH,
    small: DataFrame | None = None,
) -> DataFrame:
    """Console-style entry (splitSentence + searchPages,
    PageSearcher.cpp:69-108,348-559): parse the query string, then
    score with the weighted-dict semantics — word terms via the small
    dict when its exact range is non-empty (PageSearcher.cpp:412-419)
    else the main dict's prefix+boundary range compare, quoted phrases
    via true adjacent-position matching over the token stream (requires
    the `tokens` index; without it a phrase degrades to its words), an
    explicit trailing-'*' term via most-common-dict-word expansion.

    Word terms are routed through the small/main dict IN ONE PLAN
    (_routed_top2): the former per-term route_small() probe cost one
    limit(1).count() driver action per short word, so a k-term query
    paid k round-trips even over a persisted dict. Now the whole word
    batch is one job regardless of term count (statusTracker-asserted
    in tests). Prefix terms pay ONE dict-expansion probe action for the
    whole query (was: one collect per prefix term) — the probe itself
    IS the reference's expansion step (pick the most-common matching
    dict word before searching), and its result decides data-dependent
    semantics the main plan cannot carry (a no-match prefix is dropped
    without consuming a term slot), so it stays a driver action; all
    prefixes share it via the same tag-array batching as _tagged_top2."""
    postings = _norm_postings(postings)
    small_n = _norm_small(small) if small is not None else None
    parsed = parse_query(q)
    expansion = _expand_prefixes(
        postings,
        [(j, p["term"]) for j, p in enumerate(parsed) if p["kind"] == "prefix"],
    )
    sides: list[DataFrame] = []  # per-idx frames (phrase adjacency)
    word_pairs: list[tuple[int, str]] = []  # small|main routed in-plan
    # main-dict-only batch: degraded phrase words + expanded prefix
    # hits (pre-existing semantics — only explicit word terms consult
    # the small dict)
    plain_pairs: list[tuple[int, str]] = []
    idx = 0
    for j, p in enumerate(parsed):
        if p["kind"] == "prefix":
            if j in expansion:
                plain_pairs.append((idx, expansion[j]))
                idx += 1
        elif p["kind"] == "phrase":
            if tokens is not None:
                sides.append(_phrase_side(postings, tokens, p["term"], idx))
                idx += 1
            else:
                for w in p["term"].split():
                    if w.lower() not in STOPWORDS_REF:
                        plain_pairs.append((idx, w))
                        idx += 1
        else:
            word_pairs.append((idx, p["term"]))
            idx += 1
    if idx == 0:
        raise ValueError("empty query")
    parts: list[DataFrame] = []
    if word_pairs:
        parts.append(_routed_top2(postings, small_n, word_pairs, max_search))
    if plain_pairs:
        parts.append(_tagged_top2(postings, plain_pairs, max_search))
    frames = list(sides)
    if parts:
        top2 = reduce(lambda a, b: a.unionByName(b), parts)
        frames.append(
            _pivot_top2(top2, sorted(i for i, _ in word_pairs + plain_pairs))
        )
    joined = reduce(lambda a, b: a.join(b, "doc_id", "inner"), frames)
    return _score_joined(joined, idx, k, docs_meta, host_col)


def prefix_search(postings: DataFrame, prefix: str) -> DataFrame:
    """O2's phrase/prefix mode: term startswith prefix (the sorted-dict
    prefix compare, SearchEngine.h:389-415) — Catalyst turns this into
    a StartsWith range predicate over the sorted term column."""
    return (
        postings.where(F.col("term").startswith(prefix))
        .groupBy("term")
        .agg(
            F.count("*").alias("n_docs"),
            # exact fixed-point sum: rank is a 6 dp grid value, so the
            # lifted integers sum order-independently (round-after-
            # float-SUM is the cross-engine hash-flip class)
            F.sum(F.round(F.col("rank") * 1e6).cast("long")).alias(
                "total_rank_e6"
            ),
        )
        .orderBy("term")
    )
