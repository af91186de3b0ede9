"""Full-text search: inverted postings, TF-IDF/BM25 scoring, MATCH and
PHRASE queries, PageRank rank-blend, and window-free pagination.

Parity with the reference query engine (SURVEY.md §2.4):
  - MATCH:  analyzed keyword match over title+content
            (textindexer/store/es/es.go:184-213, memory.go:101-114)
  - PHRASE: exact contiguous phrase (es.go:187-192; triggered by quoted
            input, monolith/service/frontend/frontend.go:288-291)
  - Rank blend: final score = text relevance + PageRank
            (function_score script "_score + doc['PageRank'].value",
            es.go:194-213) — additive blend is canonical here.
  - Pagination: from/size with TotalCount (es.go:211-213).

Scale notes:
  - The postings build is one tokenize+explode+groupBy — a single shuffle
    keyed by (term, doc).  At 100 TB the postings table is written out
    partitioned/bucketed by term so that query-time term lookups are
    partition-pruned joins, not full scans.
  - Query-time scoring broadcasts the query's rows of the (term, df) table,
    cut by an ``isin`` filter of the query terms; the doc-side join is a
    broadcast hash join with no shuffle of the postings.  No query-side
    frame is built from a Python list: such a frame is a PythonRDD scan,
    and every action over it waits on Python workers.
  - Pagination is ORDER BY ... LIMIT/OFFSET (TakeOrderedAndProject),
    never a global row_number window (which would single-partition the sort).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from usearch_spark.functions.text import normalize_text, tokenize

MATCH = "match"
PHRASE = "phrase"

_QUERY_TOKEN_RE = re.compile("[a-z0-9]+")


def analyze_query(expression: str) -> list[str]:
    """Tokenize query text with the SAME analyzer as the index (lowercase
    [a-z0-9]+ runs).  Whitespace splitting would leave punctuation glued to
    terms ('spark,') that exists in no postings row."""
    return _QUERY_TOKEN_RE.findall(expression.lower())


def build_postings(
    docs: DataFrame,
    id_col: str = "link_id",
    text_cols: tuple[str, ...] = ("title", "content"),
) -> DataFrame:
    """docs -> postings (term, <id>, tf).

    Multi-field analysis: title and content both feed the same postings list
    (reference multi_match over Title+Content).
    """
    text = F.concat_ws(" ", *[F.coalesce(F.col(c), F.lit("")) for c in text_cols])
    return (
        docs.select(F.col(id_col), F.explode(tokenize(text)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_frequencies(postings: DataFrame, id_col: str = "link_id") -> DataFrame:
    """postings -> (term, df). One narrow agg; cache/broadcast at query time."""
    return postings.groupBy("term").agg(F.countDistinct(id_col).alias("df"))


def idf_column(n_docs: int, df_col: Column) -> Column:
    """BM25-style idf: ln(1 + (N - df + 0.5)/(df + 0.5)). Always positive."""
    return F.log(F.lit(1.0) + (F.lit(float(n_docs)) - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)))


def score_match(
    postings: DataFrame,
    dfreq: DataFrame,
    n_docs: int,
    terms: list[str],
    id_col: str = "link_id",
    round_to: int | None = None,
) -> DataFrame:
    """TF-IDF MATCH score per doc for the given analyzed terms.

    score(doc) = sum over query terms t present in doc of tf(t,doc)*idf(t).
    Best-fields semantics collapse to summed tf-idf here because title and
    content share one postings list.
    """
    # the query's (term, df) rows are tiny -> broadcast; postings side
    # never shuffles
    weights = F.broadcast(
        dfreq.filter(F.col("term").isin(sorted(set(terms))))
        .withColumn("idf", idf_column(n_docs, F.col("df")))
    )
    scored = (
        postings.join(weights, "term", "inner")
        .groupBy(id_col)
        .agg(F.sum(F.col("tf") * F.col("idf")).alias("score"))
    )
    if round_to is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), round_to))
    return scored


def doc_lengths(postings: DataFrame, id_col: str = "link_id") -> DataFrame:
    """postings -> (<id>, dl): analyzed token count per document (sum of
    term frequencies).  One narrow agg over the bucketed postings table."""
    return postings.groupBy(id_col).agg(F.sum("tf").alias("dl"))


def score_bm25(
    postings: DataFrame,
    dfreq: DataFrame,
    doclen: DataFrame,
    n_docs: int,
    terms: list[str],
    id_col: str = "link_id",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int | None = None,
) -> DataFrame:
    """Okapi BM25 MATCH score per doc (the ranking function behind the
    reference's ES `_score`, es.go:184-213 — Elasticsearch's default
    similarity is BM25).

    score(doc) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Plan shape mirrors :func:`score_match`: the query's (term, df) weight
    rows are broadcast, the doc-length side joins on the postings' own id
    key, and the final agg is a partial-aggregated groupBy — nothing
    shuffles the postings beyond their bucketed layout.  ``avgdl`` is the
    mean analyzed length over docs that have at least one token (computed
    from ``doclen`` so both engines see the identical population).
    """
    weights = F.broadcast(
        dfreq.filter(F.col("term").isin(sorted(set(terms))))
        .withColumn("idf", idf_column(n_docs, F.col("df")))
    )
    # avgdl: exact long sum / long count -> one double division, identical
    # bits in any engine (no float accumulation order involved)
    avg_row = doclen.agg(
        F.sum("dl").alias("s"), F.count(F.lit(1)).alias("c")
    ).first()
    avgdl = float(avg_row["s"]) / float(avg_row["c"])
    tf = F.col("tf").cast("double")
    denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl))
    contrib = F.col("idf") * tf * F.lit(k1 + 1.0) / denom
    scored = (
        postings.join(weights, "term", "inner")
        .join(doclen, id_col, "inner")
        .groupBy(id_col)
        .agg(F.sum(contrib).alias("score"))
    )
    if round_to is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), round_to))
    return scored


def tfidf_keywords(
    postings: DataFrame,
    dfreq: DataFrame,
    n_docs: int,
    top_k: int = 3,
    id_col: str = "link_id",
    round_to: int = 4,
) -> DataFrame:
    """Per-document keyword extraction: top-k terms by tf·idf.

    (id, term, rank, score) with rank 1..k; ties break (score desc, term
    asc) so the selection is deterministic.  The window partitions by
    document — per-doc top-k stays fully distributed (no global sort);
    the df side joins on term against the bucketed postings layout.
    """
    from pyspark.sql import Window

    scored = (
        postings.join(dfreq, "term", "inner")
        .withColumn("score", F.round(F.col("tf") * idf_column(n_docs, F.col("df")), round_to))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "term", "rank", "score")
    )


def build_positional_postings(
    docs: DataFrame,
    id_col: str = "link_id",
    text_cols: tuple[str, ...] = ("title", "content"),
) -> DataFrame:
    """docs -> (id, term, pos): one row per token occurrence with its
    position in the analyzed stream — the index layout that makes phrase
    queries a join instead of a full-text rescan."""
    text = F.concat_ws(" ", *[F.coalesce(F.col(c), F.lit("")) for c in text_cols])
    toks = docs.select(F.col(id_col), F.posexplode(tokenize(text)).alias("pos", "term"))
    return toks


def phrase_match_positional(
    positional: DataFrame, phrase: str, id_col: str = "link_id", dfreq: DataFrame | None = None
) -> DataFrame:
    """PHRASE via positional postings: doc matches iff term_i appears at
    position p+i for every i.  One self-join per phrase term beyond the
    first, each an equi-join on (id, pos) — at scale these are co-located
    joins on the bucketed postings table, never a content rescan.

    With ``dfreq`` (term -> document frequency, normally a persisted side
    table), the joins run rarest-term-first: the first filter then yields
    the smallest possible intermediate, and every later join can only
    shrink it.  Join order cannot change the result (all joins are inner
    on the same keys) — only the intermediate sizes."""
    terms = analyze_query(phrase)
    if not terms:
        return positional.select(F.col(id_col)).limit(0)
    order = list(range(len(terms)))
    if dfreq is not None:
        freq = {
            r["term"]: r["df"]
            for r in dfreq.filter(F.col("term").isin(sorted(set(terms)))).collect()
        }
        if any(t not in freq for t in terms):
            # a phrase term absent from the corpus ⇒ no doc can match
            return positional.select(F.col(id_col)).limit(0)
        order.sort(key=lambda i: (freq[terms[i]], i))
    base = None
    for i in order:
        nxt = positional.filter(F.col("term") == terms[i]).select(
            F.col(id_col), (F.col("pos") - i).alias("p0")
        )
        base = nxt if base is None else base.join(nxt, [id_col, "p0"], "inner")
    return base.select(id_col).dropDuplicates([id_col])


def phrase_filter(docs: DataFrame, phrase: str, text_cols: tuple[str, ...] = ("title", "content")) -> DataFrame:
    """PHRASE query: normalized-substring containment over the analyzed
    fields (matches the reference's contiguous-phrase goldens).

    Both sides are space-padded so word boundaries are exact."""
    needle = " ".join(analyze_query(phrase))
    if not needle:
        # a phrase with no analyzable terms matches nothing (an empty
        # needle would otherwise match docs whose normalized field is '')
        return docs.filter(F.lit(False))
    conds = None
    for c in text_cols:
        padded = F.concat(F.lit(" "), normalize_text(F.coalesce(F.col(c), F.lit(""))), F.lit(" "))
        cond = padded.contains(f" {needle} ")
        conds = cond if conds is None else (conds | cond)
    return docs.filter(conds)


# the reference ships BOTH ranking semantics; the blend is configurable
# with the additive form as the default (SURVEY §7):
BLEND_ADDITIVE = "additive"  # ES script_score "_score + doc['PageRank']" (es.go:204-209)
BLEND_PAGERANK_FIRST = "pagerank_first"  # bleve SortBy("-PageRank", "-_score") (memory.go:112)


def blend_rank(scored: DataFrame, docs: DataFrame, id_col: str = "link_id") -> DataFrame:
    """Attach pagerank and the additive blend score; the ordering semantics
    are chosen separately via ``blend_order_cols`` (both modes need the
    same join, so the blend itself is mode-free)."""
    pr = docs.select(id_col, F.coalesce(F.col("pagerank"), F.lit(0.0)).alias("pagerank"))
    return (
        scored.join(pr, id_col, "left")
        .withColumn("pagerank", F.coalesce(F.col("pagerank"), F.lit(0.0)))
        .withColumn("final_score", F.col("score") + F.col("pagerank"))
    )


def blend_order_cols(blend: str, id_col: str = "link_id") -> list[Column]:
    """Result ordering for a blend mode, with a deterministic id tie-break:
    additive sorts on relevance+pagerank (es.go:204-209); pagerank_first is
    the bleve sort (-PageRank, -_score) (memory.go:112)."""
    if blend == BLEND_ADDITIVE:
        return [F.col("final_score").desc(), F.col(id_col)]
    if blend == BLEND_PAGERANK_FIRST:
        return [F.col("pagerank").desc(), F.col("score").desc(), F.col(id_col)]
    raise ValueError(f"unknown blend mode {blend!r}")


def paginate(df: DataFrame, order_cols: list[Column], offset: int, size: int) -> DataFrame:
    """ORDER BY ... OFFSET ... LIMIT — compiles to TakeOrderedAndProject;
    stays distributed (no global window)."""
    out = df.orderBy(*order_cols)
    if offset:
        out = out.offset(offset)
    return out.limit(size)


def topn_with_ranks(scored: DataFrame, n: int, id_col: str = "link_id") -> DataFrame:
    """Top-n of a scored ranking with 1-based ranks (order: score desc, id
    asc), WITHOUT a global window: take the bounded top-n first
    (TakeOrderedAndProject, distributed), then rank inside the n-row slice
    by counting strictly-better rows via a broadcast self-join — quadratic
    only in n, which the LIMIT bounds regardless of corpus size."""
    top = paginate(scored, [F.col("score").desc(), F.col(id_col)], 0, n).localCheckpoint(eager=True)
    a = top.select(F.col(id_col).alias("_id"), F.col("score").alias("_score"))
    b = top.select(F.col(id_col).alias("_oid"), F.col("score").alias("_oscore"))
    better = (F.col("_oscore") > F.col("_score")) | (
        (F.col("_oscore") == F.col("_score")) & (F.col("_oid") < F.col("_id"))
    )
    return (
        a.join(F.broadcast(b), better, "left")
        .groupBy("_id", "_score")
        .agg((F.count("_oid") + F.lit(1)).alias("rank"))
        .select(F.col("_id").alias(id_col), F.col("_score").alias("score"), "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "link_id",
    k: int = 60,
    n: int = 50,
) -> DataFrame:
    """Reciprocal-rank fusion of multiple scored rankings (Cormack et al.
    2009) — the standard hybrid-search combiner (e.g. BM25 + dense
    retrieval): rrf(d) = Σ_lists 1/(k + rank_list(d)) over the lists that
    retrieved d in their top ``n``.

    Output: (id, rrf_score, n_lists).  Scale shape: each input ranking is
    cut to its bounded top-n before any rank computation, so fusion cost
    is O(lists·n), independent of corpus size.
    """
    contribs = None
    for r in rankings:
        c = topn_with_ranks(r, n, id_col=id_col).select(
            id_col, (F.lit(1.0) / (F.lit(float(k)) + F.col("rank"))).alias("contrib")
        )
        contribs = c if contribs is None else contribs.unionByName(c)
    return (
        contribs.groupBy(id_col)
        .agg(
            F.round(F.sum("contrib"), 6).alias("rrf_score"),
            F.count(F.lit(1)).alias("n_lists"),
        )
    )


def suggest_terms(
    dfreq: DataFrame,
    prefix: str,
    top_k: int = 10,
) -> DataFrame:
    """Query auto-complete: vocabulary terms with the given prefix ranked
    by document frequency — served straight from the dfreq aggregate of
    the postings table (vocabulary-sized input, the prefix filter prunes
    before the bounded top-k).  Output (term, df)."""
    hits = dfreq.filter(F.col("term").startswith(prefix))
    return paginate(hits, [F.col("df").desc(), F.col("term")], 0, top_k)


def proximity_rank(
    positional: DataFrame,
    term_a: str,
    term_b: str,
    id_col: str = "link_id",
    top_k: int = 10,
    max_span: int | None = None,
) -> DataFrame:
    """Proximity ranking: documents containing BOTH terms, ranked by the
    minimum token distance between any occurrence pair — the span signal
    behind NEAR()/slop operators.

    Scale shape: each term's posting list is filtered from the positional
    index first (term-keyed, prunable), then the per-document occurrence
    join is bounded by per-doc term frequency, never corpus size.

    Output: (id, min_span, n_pairs) top_k by (min_span asc, id).
    """
    a = positional.filter(F.col("term") == term_a).select(id_col, F.col("pos").alias("pa"))
    b = positional.filter(F.col("term") == term_b).select(id_col, F.col("pos").alias("pb"))
    pairs = a.join(b, id_col).select(id_col, F.abs(F.col("pa") - F.col("pb")).alias("span"))
    per = pairs.groupBy(id_col).agg(
        F.min("span").alias("min_span"), F.count(F.lit(1)).alias("n_pairs")
    )
    if max_span is not None:
        per = per.filter(F.col("min_span") <= max_span)
    return paginate(per, [F.col("min_span"), F.col(id_col)], 0, top_k)


def fuzzy_match_terms(
    dfreq: DataFrame,
    query_term: str,
    max_results: int = 10,
) -> DataFrame:
    """Fuzzy vocabulary lookup (edit distance <= 1): SymSpell-style
    deletion-neighborhood candidate generation — the query term and every
    vocabulary term emit their single-deletion variants; sharing a variant
    is a necessary condition for edit distance <= 1 — then an exact
    levenshtein verify.

    Scale shape: the vocabulary side explodes to (len+1) variant rows per
    term ONCE (index-time at scale), the query side is a handful of
    literals that filter the variants, and the verify is per-candidate.
    No scan of the corpus, no cross join of the vocabulary.

    Output: (term, df, dist) top by (dist asc, df desc, term).
    """
    q = query_term
    q_variants = [q] + [q[:i] + q[i + 1 :] for i in range(len(q))]
    t = F.col("term")
    idx = F.sequence(F.lit(0), F.length(t))
    variants = F.transform(
        idx,
        lambda i: F.when(i == 0, t).otherwise(
            F.concat(F.substring(t, F.lit(1), i - 1), F.substring(t, i + 1, F.length(t)))
        ),
    )
    vocab_v = dfreq.select("term", "df", F.explode(F.array_distinct(variants)).alias("variant"))
    cands = (
        vocab_v.filter(F.col("variant").isin(sorted(set(q_variants))))
        .select("term", "df")
        .dropDuplicates(["term"])
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(q)))
        .filter(F.col("dist") <= 1)
    )
    return paginate(cands, [F.col("dist"), F.col("df").desc(), F.col("term")], 0, max_results)


def more_like_this(
    postings: DataFrame,
    dfreq: DataFrame,
    n_docs: int,
    query_doc: int,
    id_col: str = "link_id",
    top_k: int = 10,
) -> DataFrame:
    """More-like-this: rank documents by tf-idf cosine similarity to one
    query document — the term-space dual of embedding similarity, served
    from the same postings table as MATCH/BM25.

    Scale shape: the tf-idf weighting join (postings ⋈ dfreq) keys on term,
    which is the postings table's bucket column, so it plans Exchange-free;
    the query document's vector is a handful of rows and BROADCASTS into
    the dot-product join; norms are one partial-agg pass.  Result is a
    bounded TakeOrderedAndProject.

    Output: (id_col, similarity) — top_k by (similarity desc, id), the
    query document itself excluded.
    """
    vec = postings.join(dfreq, "term").select(
        id_col, "term", (F.col("tf") * idf_column(n_docs, F.col("df"))).alias("w")
    )
    qv = vec.filter(F.col(id_col) == query_doc).select("term", F.col("w").alias("qw"))
    norms = vec.groupBy(id_col).agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    qnorm = norms.filter(F.col(id_col) == query_doc).select(F.col("nrm").alias("qnrm"))
    dots = (
        vec.join(F.broadcast(qv), "term")
        .groupBy(id_col)
        .agg(F.sum(F.col("w") * F.col("qw")).alias("dot"))
    )
    scored = (
        dots.join(norms, id_col)
        .join(F.broadcast(qnorm))
        .filter(F.col(id_col) != query_doc)
        .select(id_col, F.round(F.col("dot") / (F.col("nrm") * F.col("qnrm")), 6).alias("similarity"))
    )
    return paginate(scored, [F.col("similarity").desc(), F.col(id_col)], 0, top_k)


def tfidf_cosine_pairs(
    postings: DataFrame,
    n_docs: int,
    id_col: str = "doc_id",
    max_df: int | None = 1000,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` most-similar document pairs by tf-idf COSINE over the
    sparse postings — the all-pairs form of more_like_this: instead of
    ranking neighbors of one document, surface the corpus's most similar
    pairs (near-topic-duplicates the shingle/Jaccard family misses when
    wording differs but vocabulary overlaps).

    Scale shape: the only quadratic surface is the postings SELF-JOIN on
    term, and ``max_df`` drops stop-terms before it (the same df-cap
    lever as the dedup shingle join) — a term in d docs contributes
    O(d²) pairs and ~zero idf weight, so the cap is what the weighting
    already wants.  Everything else is narrow aggs; the final top-k is a
    TakeOrdered, never a global sort.

    Hash-gate determinism (the covariance trick): weights are
    round-8 doubles, every product is round-8 quantized to
    DECIMAL(26,8) BEFORE summation, so dot products and squared norms
    are exact order-independent decimals; one double division per pair,
    cosine rounded at 6, ties broken by (a, b).
    """
    dfreq = doc_frequencies(postings, id_col=id_col)
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_df)
    w = (
        postings.join(dfreq, "term")
        .select(
            F.col(id_col).alias("id"),
            "term",
            F.round(F.col("tf") * idf_column(n_docs, F.col("df")), 8).alias("w"),
        )
    )
    norm = (
        w.groupBy("id")
        .agg(F.sum(F.round(F.col("w") * F.col("w"), 8).cast("decimal(26,8)")).alias("n2"))
        .select("id", F.sqrt(F.col("n2").cast("double")).alias("nrm"))
    )
    wa = w.select(F.col("id").alias("a"), "term", F.col("w").alias("wa"))
    wb = w.select(F.col("id").alias("b"), "term", F.col("w").alias("wb"))
    dots = (
        wa.join(wb, "term")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.sum(F.round(F.col("wa") * F.col("wb"), 8).cast("decimal(26,8)")).alias("dot")
        )
    )
    cos = (
        dots.join(norm.select(F.col("id").alias("a"), F.col("nrm").alias("na")), "a")
        .join(norm.select(F.col("id").alias("b"), F.col("nrm").alias("nb")), "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("dot").cast("double") / (F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
    )
    return cos.orderBy(F.col("cosine").desc(), "a", "b").limit(k)


def save_postings_bucketed(
    postings: DataFrame, table: str, buckets: int = 16, path: str | None = None
) -> None:
    """Persist the postings table bucketed+sorted by term.

    This is the 100 TB index layout: every later per-term operation —
    document-frequency aggregation, postings∞postings phrase joins,
    postings∞query-term joins when the term list is too big to broadcast —
    co-locates by bucket and skips the shuffle entirely (verified in
    tests/test_plan_quality.py).  ``path`` pins the data to an absolute
    location (external table) so persistence doesn't depend on the
    session's cwd-derived warehouse dir."""
    w = postings.write.bucketBy(buckets, "term").sortBy("term").mode("overwrite").format("parquet")
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def load_postings(spark, table: str) -> DataFrame:
    return spark.table(table)


class SearchIndex:
    """Queryable index over a documents DataFrame.

    Build once (postings + dfreq cached), query many times — the Spark
    analog of the reference's index store handle.
    """

    def __init__(
        self,
        docs: DataFrame,
        id_col: str = "link_id",
        text_cols: tuple[str, ...] = ("title", "content"),
        blend: str = BLEND_ADDITIVE,
    ):
        self.docs = docs
        self.id_col = id_col
        self.text_cols = text_cols
        self.blend = blend
        self.postings = build_postings(docs, id_col, text_cols).cache()
        self.dfreq = doc_frequencies(self.postings, id_col).cache()
        self.n_docs = docs.count()

    def search(self, expression: str, mode: str = MATCH, offset: int = 0, size: int = 10) -> tuple[int, DataFrame]:
        """Returns (total_count, page_df) like the reference's streaming
        search RPC (first message = total, then docs)."""
        if mode == PHRASE or (expression.startswith('"') and expression.endswith('"')):
            phrase = expression.strip('"')
            hits = phrase_filter(self.docs, phrase, self.text_cols).select(
                self.id_col, F.lit(1.0).alias("score")
            )
        else:
            terms = analyze_query(expression)
            hits = score_match(self.postings, self.dfreq, self.n_docs, terms, self.id_col)
        blended = blend_rank(hits, self.docs, self.id_col)
        order = blend_order_cols(self.blend, self.id_col)
        total = blended.count()
        page = paginate(blended, order, offset, size)
        # docs carries its own 'pagerank' — drop it so the page keeps exactly
        # one; re-sort AFTER the join (join output order is undefined)
        enriched = page.join(self.docs.drop("pagerank"), self.id_col, "left").orderBy(*order)
        return total, enriched


def prf_expansion_terms(
    postings: DataFrame,
    top_docs: DataFrame,
    orig_terms: list[str],
    k: int = 3,
    id_col: str = "link_id",
) -> DataFrame:
    """PSEUDO-RELEVANCE-FEEDBACK expansion candidates (Rocchio 1971 /
    the classic PRF loop): treat the first-pass top page as relevant,
    rank the terms they contain — originals excluded — and return the
    top ``k`` to widen the query.  Selection is a PURE INTEGER ranking
    (docs-containing DESC, summed tf DESC, term ASC), so the expansion
    choice itself is deterministic and hash-checkable; the float BM25
    machinery only scores, never selects.

    Distributed shape: the page is a broadcast semi-join against the
    bucketed postings (touches only the top docs' rows), one partial-agg
    groupBy over their term dimension, TakeOrdered k.  No windows, no
    UDFs.

    Output: (term, n_docs, sum_tf), the selected k in rank order.
    """
    return (
        postings.join(F.broadcast(top_docs.select(id_col)), id_col)
        .filter(~F.col("term").isin(list(orig_terms)))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tf").cast("long").alias("sum_tf"),
        )
        .orderBy(F.col("n_docs").desc(), F.col("sum_tf").desc(), "term")
        .limit(k)
    )


def related_pages(
    postings: DataFrame,
    dfreq: DataFrame,
    n_docs: int,
    query_doc: int,
    id_col: str = "doc_id",
    pool: int = 50,
    top_k: int = 10,
    rrf_k: int = 60,
    ppr_steps: int = 10,
) -> DataFrame:
    """RELATED-PAGES query ("more pages like this one"): blends CONTENT
    similarity with LINK-STRUCTURE proximity — the classic search feature
    the reference's rank blend (es.go:214-231, Q3 score+PageRank mix)
    plus its PageRank machinery (pagerank/compute.go:24-103) together
    imply, re-expressed for a corpus without an explicit link graph:

      * content arm: tf-idf cosine ``more_like_this`` ranking (term
        space, served from the same postings table as MATCH/BM25);
      * structure arm: PERSONALIZED PageRank from the seed document on
        the bipartite doc<->term content graph (doc→term→doc random walk
        with restart — Lao & Cohen 2010's RWR retrieval shape), which
        rewards documents reachable through many shared, low-fanout
        vocabulary paths rather than raw cosine overlap;
      * blend: reciprocal-rank fusion over the bounded candidate pool
        (Cormack et al. 2009), the same combiner as search_hybrid_rrf.

    Scale shape: the bipartite graph is LINEAR in postings (each (doc,
    term) row contributes two directed edges — no quadratic doc-pair
    surface anywhere); PPR runs the gate-proven
    plans/pagerank.personalized_pagerank (auto local/distributed); both
    rank passes use the window-free counting-rank over the <= ``pool``
    row slice (topn_with_ranks).  Determinism: ranks are integers over
    (rounded score desc, id) orders, and the RRF score is two integer
    divides summed — identical IEEE ops on any engine.

    Output: (id, related_rank, similarity, ppr, rrf_score) top_k by
    (rrf_score desc, id).
    """
    from usearch_spark.plans.pagerank import personalized_pagerank

    mlt = more_like_this(postings, dfreq, n_docs, query_doc, id_col=id_col, top_k=pool)
    mlt_ranked = topn_with_ranks(
        mlt.select(F.col(id_col), F.col("similarity").alias("score")), pool, id_col=id_col
    )
    cand = mlt_ranked.select(
        id_col, F.col("score").alias("similarity"), F.col("rank").alias("r_mlt")
    )

    d_id = F.concat(F.lit("d"), F.col(id_col).cast("string"))
    t_id = F.concat(F.lit("t"), F.col("term"))
    fwd = postings.select(d_id.alias("src"), t_id.alias("dst"))
    rev = postings.select(t_id.alias("src"), d_id.alias("dst"))
    edges = fwd.unionByName(rev)  # postings rows are (term, doc) unique
    verts = edges.select(F.col("src").alias("id")).dropDuplicates(["id"])
    ppr = personalized_pagerank(
        verts,
        edges,
        [f"d{query_doc}"],
        min_sad=0.0,
        max_steps=ppr_steps,
        edges_deduped=True,
    )
    dscores = ppr.state.filter(F.col("id").startswith("d")).select(
        F.expr("CAST(substring(id, 2) AS BIGINT)").alias(id_col),
        F.round(F.col("score"), 8).alias("ppr"),
    )
    # <= pool rows: both the ppr rank pass and the final fuse reuse this
    # frame — without the checkpoint the whole mlt pipeline + ppr-score
    # join runs physically TWICE (once under each side of the fused join)
    cand = cand.join(dscores, id_col).localCheckpoint(eager=True)
    ppr_ranked = topn_with_ranks(
        cand.select(id_col, F.col("ppr").alias("score")), pool, id_col=id_col
    )
    fused = cand.join(
        ppr_ranked.select(id_col, F.col("rank").alias("r_ppr")), id_col
    ).select(
        id_col,
        "similarity",
        "ppr",
        (
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("r_mlt"))
            + F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("r_ppr"))
        ).alias("rrf_score"),
    )
    final = topn_with_ranks(
        fused.select(id_col, F.col("rrf_score").alias("score")), top_k, id_col=id_col
    )
    return (
        final.select(id_col, F.col("rank").alias("related_rank"))
        .join(fused, id_col)
        .select(id_col, "related_rank", "similarity", "ppr", "rrf_score")
        .orderBy("related_rank")
    )
