"""Graph feature propagation — the GraphSAGE-style mean aggregator a
training pipeline uses to attach neighborhood context to node features.

Long format (vertex, pos, nbr_mean) by design: at 100 TB the position-
exploded layout is the scalable one — every row is a scalar, the aggregation
is an ordinary hash agg with map-side combine, partitioning by (vertex)
composes with every other per-vertex table, and no executor ever holds a
wide array per group.  (Assembling array columns back is a trivial
``collect_list(struct(pos, val))`` for consumers that want it.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import guard_stats, superstep_loop


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    *,
    key_col: str = "doc_id",
    buckets: int = 10_000,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic hash sampling: keep rows whose md5-bucket of the key
    falls under ``fraction`` — reproducible across runs, retries and
    engines (no RNG), stable under data growth (a kept key stays kept),
    and pure filter pushdown-friendly.  The training-set answer to
    ``df.sample`` whose output changes with partitioning."""
    from parallel_betweenness_centrality_using_bsp_spark.functions.hashing import md5_token_value

    bucket = md5_token_value(
        F.concat_ws(":", F.lit(salt), F.col(key_col).cast("string"))
    ) % F.lit(buckets)
    # round, not int(): 0.57 * 10000 is 5699.999... in binary — truncation
    # would shift the split boundary away from the exact threshold
    return df.where(bucket < round(fraction * buckets))


def training_mix(
    df: DataFrame,
    rates: dict[str, float],
    *,
    group_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    buckets: int = 10_000,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic per-group rate sampling — the data-MIXING primitive: a
    training corpus is composed by downsampling each (language / source /
    quality-bin) group to its target weight.  Same md5-bucket machinery as
    ``deterministic_sample`` with a per-group threshold, so it inherits the
    properties that matter in a pipeline: reproducible across runs/retries/
    engines, stable under data growth, AND NESTED across rate changes —
    the bucket depends on the key only, so the 10% sample of a group is a
    subset of its 50% sample (mix re-weighting never churns examples).

    ``rates`` maps group value → keep fraction; unlisted groups keep
    ``default_rate``.  The rates land as a broadcast dim join (never a
    driver-side loop or a non-codegen UDF), so the whole op is one
    map-side stage over the fact table at any scale."""
    from parallel_betweenness_centrality_using_bsp_spark.functions.hashing import md5_token_value

    spark = df.sparkSession
    rdf = spark.createDataFrame(
        [(g, int(round(r * buckets))) for g, r in sorted(rates.items())],
        f"{group_col} string, _thr int",
    )
    bucket = md5_token_value(
        F.concat_ws(":", F.lit(salt), F.col(key_col).cast("string"))
    ) % F.lit(buckets)
    return (
        df.join(F.broadcast(rdf), group_col, "left")
        .where(bucket < F.coalesce(F.col("_thr"), F.lit(int(round(default_rate * buckets)))))
        .drop("_thr")
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Sequence packing — the LLM-pretraining step that concatenates
    tokenized documents (in deterministic ``id_col`` order) into
    fixed-length training chunks of ``seq_len`` tokens, letting documents
    span chunk boundaries.  Output is one row per (document × chunk it
    touches):

        (doc_id, chunk_id, chunk_pos, doc_start, seg_len)

    — i.e. tokens [doc_start, doc_start+seg_len) of the document land at
    [chunk_pos, chunk_pos+seg_len) of the chunk.  Every chunk except the
    last sums to exactly ``seq_len``; every document's segments partition
    it.  All columns are exact LONGs, so the layout is reproducible across
    engines/retries — a training job can re-derive any shard's contents
    from (doc_id → offset) alone.

    The global running offset uses the ``densify_vertices`` two-phase
    pattern (per-range-partition window cumsum + P driver-side partition
    totals broadcast back) instead of a single-partition global window —
    the shape that packs a 10^12-token corpus.  A document only fans out
    into as many rows as chunks it spans (output-proportional, no skew
    amplification)."""
    spark = docs.sparkSession
    d = docs.select(
        F.col(id_col).alias("doc_id"), F.col(tokens_col).cast("long").alias("n")
    ).where(F.col(tokens_col) > 0)
    n_part = max(d.rdd.getNumPartitions(), 1)
    ranged = d.repartitionByRange(n_part, F.col("doc_id")).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy("doc_id")
    local = ranged.withColumn("_lcum", F.sum("n").over(w) - F.col("n"))
    totals = local.groupBy("_pid").agg(F.sum("n").alias("_t")).collect()
    offsets, acc = {}, 0
    for row in sorted(totals, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["_t"]
    off_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"
    )
    s = F.lit(int(seq_len)).cast("long")
    placed = (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn("_o", F.col("_lcum") + F.col("_off"))
        .withColumn(
            "chunk_id",
            F.explode(
                F.sequence(
                    F.expr(f"_o DIV {int(seq_len)}"),
                    F.expr(f"(_o + n - 1) DIV {int(seq_len)}"),
                )
            ),
        )
    )
    gstart = F.greatest(F.col("_o"), F.col("chunk_id") * s)
    gend = F.least(F.col("_o") + F.col("n"), (F.col("chunk_id") + 1) * s)
    return placed.select(
        "doc_id",
        "chunk_id",
        (gstart - F.col("chunk_id") * s).alias("chunk_pos"),
        (gstart - F.col("_o")).alias("doc_start"),
        (gend - gstart).alias("seg_len"),
    )


def build_vocab(
    docs: DataFrame,
    *,
    text_col: str = "text",
    min_count: int = 1,
    max_size: int | None = None,
) -> DataFrame:
    """(term string, term_id long, count long): the training-tokenizer
    vocabulary — whitespace terms ranked by (count DESC, term ASC), ids
    dense from 0.  Deterministic: the id of a term depends only on the
    corpus's term histogram.  Ranking reuses the ``densify_vertices``
    two-phase global ranking (range partition on the sort key + P
    partition counts broadcast back), so a 10^9-term vocabulary never
    serializes through one window task."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.edges import densify_vertices

    terms = (
        docs.select(
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term")
        )
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") >= min_count)
    )
    ranked = densify_vertices(
        terms.withColumn("_neg", -F.col("count")), ["_neg", "term"], id_col="term_id"
    )
    counts = terms.select("term", "count")
    out = ranked.select("term", "term_id").join(counts, "term")
    if max_size is not None:
        out = out.where(F.col("term_id") < max_size)
    return out


def encode_docs(
    docs: DataFrame,
    vocab: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, pos, term_id): each document as its token-id stream in the
    long scalar layout (the repo's standard at-scale shape — feeds
    ``pack_sequences`` / embedding lookups directly).  Out-of-vocabulary
    terms are DROPPED (inner join) — pass a vocab built with
    ``min_count=1`` for lossless encoding.  One explode + one shuffle-join
    keyed on the term."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("pos", "term"),
    ).where(F.col("term") != "")
    return toks.join(vocab.select("term", "term_id"), "term").select(
        "doc_id", F.col("pos").cast("long").alias("pos"), "term_id"
    )


def tf_idf_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, term, tf, tfidf): classic tf·ln(N/df) term weighting.

    Three hash aggregations, all map-side-combined: term frequency per
    (doc, term), document frequency per term, and the corpus size as an
    in-plan broadcast 1-row aggregate (no driver-side count).  Tokens are
    regexp-extracted (``\\S+`` over lowercased text) so zero-token docs drop
    identically in any engine.  The document-frequency join broadcasts when
    the vocabulary is small; at web scale it is a plain shuffle on ``term``
    — a balanced key space by construction (hot terms have ONE df row).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.trim(F.col(text_col))), F.lit(r"\S+"), 0)
        ).alias("term"),
    )
    # ONE tokenize pass: tf is already one row per (doc, term), so both the
    # document frequency and the corpus size derive from the (much smaller)
    # materialized tf relation instead of re-scanning the corpus twice more.
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True).transform(guard_stats)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfq"))
    nd = tf.agg(F.countDistinct("doc_id").cast("double").alias("nd"))
    return (
        tf.join(dfreq, "term")
        .join(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            "tf",
            (F.col("tf") * F.log(F.col("nd") / F.col("dfq"))).alias("tfidf"),
        )
    )


def neighbor_feature_means(
    edges: DataFrame,
    features: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """(vertex, pos, nbr_mean): element-wise mean of each vertex's
    in-neighbors' feature vectors (neighbors = sources of incoming edges).

    One join (edges × position-exploded features on ``src``) + one hash
    aggregation; ``dims`` restricts to the first d positions (prune before
    the shuffle).  Vertices with no in-neighbors carrying features are
    absent (left-join against the vertex table to densify if needed).
    """
    f = features.select(
        F.col(id_col).alias("src"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    if dims is not None:
        f = f.where(F.col("pos") < dims)
    return (
        edges.select("src", "dst")
        .join(f, "src")
        .groupBy(F.col("dst").alias("vertex"), "pos")
        .agg(F.avg("val").alias("nbr_mean"))
    )


def k_hop_feature_means(
    edges: DataFrame,
    features: DataFrame,
    *,
    hops: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Iterated neighbor aggregation (GNN message passing): hop i averages
    the in-neighbors' hop-(i-1) means — nested means, the GraphSAGE layer
    stack, NOT a flat mean over the k-hop ball.  Same long layout and plan
    shape per hop; hops 2.. are ``superstep_loop`` supersteps, so plan
    depth stays O(1)."""

    def step(state: DataFrame, _k: int) -> DataFrame:
        return (
            edges.select("src", "dst")
            .join(
                state.select(
                    F.col("vertex").alias("src"), "pos", F.col("nbr_mean").alias("val")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("vertex"), "pos")
            .agg(F.avg("val").alias("nbr_mean"))
        )

    return superstep_loop(
        edges.sparkSession,
        neighbor_feature_means(edges, features, id_col=id_col, vec_col=vec_col, dims=dims),
        step,
        algo="k_hop_feature_means",
        max_supersteps=hops - 1,
    ).state


def unigram_surprisal(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_tok, surprisal): mean per-token unigram surprisal
    −ln(count(term)/N) under the corpus's OWN unigram distribution — the
    cheap language-model quality signal (gibberish and boilerplate sit at
    the distribution's extremes) a 100 TB curation pipeline computes before
    any neural scorer.

    Plan: one tokenize pass, a term-count hash agg, the corpus token total
    as an in-plan broadcast 1-row aggregate, then a term-keyed join back —
    the tf_idf_terms layout, balanced keys throughout.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.trim(F.col(text_col))), F.lit(r"\S+"), 0)
        ).alias("term"),
    ).localCheckpoint(eager=True).transform(guard_stats)
    tcounts = toks.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    tot = toks.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        toks.join(tcounts, "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.avg(-F.log(F.col("cnt") / F.col("n"))).alias("surprisal"),
        )
    )


def community_feature_centroids(
    labels: DataFrame,
    features: DataFrame,
    *,
    dims: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """(label, pos, centroid, size) — per-community mean of the first
    ``dims`` embedding dimensions plus the member count: the cross-modal
    composition (graph communities × embedding features) a curation
    pipeline uses to characterize clusters.  Long scalar layout like
    ``neighbor_feature_means``: one join keyed by vertex + two hash aggs
    keyed by community — balanced, map-side combined.
    """
    f = features.select(F.col(id_col).alias("vertex"), F.col(vec_col).alias("_v"))
    j = labels.select("vertex", F.col(label_col).alias("label")).join(f, "vertex")
    j = j.localCheckpoint(eager=True).transform(guard_stats)  # sizes + explode share one scan
    sizes = j.groupBy("label").agg(F.count(F.lit(1)).alias("size"))
    ex = j.select(
        "label",
        F.posexplode(F.slice(F.col("_v").cast("array<double>"), 1, dims)).alias(
            "pos", "val"
        ),
    )
    cent = ex.groupBy("label", "pos").agg(F.avg("val").alias("centroid"))
    return cent.join(sizes, "label")


def bm25_scores(
    df: DataFrame,
    query_terms: list[str] | None = None,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_query_terms: int = 2,
) -> DataFrame:
    """(doc_id, bm25): Okapi BM25 relevance of every matching document to
    ``query_terms`` (Robertson-Sparck Jones idf in the always-positive
    Lucene form, ``ln(1 + (N − df + 0.5)/(df + 0.5))``)::

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avg|d|))

    ``query_terms=None`` derives the query in-plan and deterministically:
    the ``top_query_terms`` highest-document-frequency terms (ties → term
    asc) — reproducible in any engine, no RNG, no driver-side vocabulary.

    Plan shape: ONE tokenize pass shared with ``tf_idf_terms`` (same
    ``\\S+`` regexp tokens), then document length and corpus-average
    length as hash aggregations over the (doc, term, tf) relation; the
    query relation (a handful of rows) broadcasts into tf, so the scoring
    join touches only matching (doc, term) rows — at web scale the scan
    is pruned by the broadcast semi-join, never a full corpus re-read.
    Summed per doc with map-side combine.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.trim(F.col(text_col))), F.lit(r"\S+"), 0)
        ).alias("term"),
    )
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True).transform(guard_stats)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfq"))
    nd = tf.agg(F.countDistinct("doc_id").cast("double").alias("nd"))
    dlen = tf.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("dl"))
    avgdl = dlen.agg(F.avg("dl").alias("avgdl"))
    if query_terms is None:
        q = dfreq.orderBy(F.desc("dfq"), F.asc("term")).limit(top_query_terms).select("term")
    else:
        q = tf.sparkSession.createDataFrame([(t,) for t in query_terms], ["term"])
    idf = F.log(
        F.lit(1.0)
        + (F.col("nd") - F.col("dfq") + F.lit(0.5)) / (F.col("dfq") + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    denom = tf_d + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(q), "term")
        .join(dfreq, "term")
        .join(dlen, "doc_id")
        .join(F.broadcast(nd))
        .join(F.broadcast(avgdl))
        .select("doc_id", (idf * tf_d * F.lit(k1 + 1.0) / denom).alias("_s"))
        .groupBy("doc_id")
        .agg(F.sum("_s").alias("bm25"))
    )


def bigram_pmi(
    df: DataFrame, text_col: str = "text", min_count: int = 5
) -> DataFrame:
    """(x, y, bigram, n_xy, pmi): pointwise mutual information of adjacent
    token pairs — the classic collocation extractor a corpus pipeline runs
    to find multi-word expressions worth fusing into single tokens before
    tokenizer training (Church & Hanks 1990).

    PMI(x,y) = ln( (c_xy/N_bg) / ((c_x/N_u)·(c_y/N_u)) ) with corpus-global
    counts.  Plan shape: ONE tokenize expression feeds three branches — the
    unigram hash agg, the adjacent-pair hash agg (pairs built in-plan with
    ``transform(sequence(...))`` — JVM-side, no UDF, no positional
    self-join), and a 1-row total aggregate (N_u and N_bg from token counts
    alone, no explode).  ``min_count`` prunes the pair table BEFORE the two
    unigram joins, so the rare-pair long tail (the bulk of the mass at web
    scale, by Zipf) never reaches a shuffle; the joins themselves key on
    distinct terms — balanced by construction (a hot term has ONE
    unigram row).  All counts are exact BIGINTs; only the final ln is
    float, so an oracle twin agrees at far better than 6 dp.
    """
    toks = df.select(
        F.regexp_extract_all(
            F.lower(F.trim(F.col(text_col))), F.lit(r"\S+"), 0
        ).alias("t")
    )
    uni = (
        toks.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = (
        toks.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t)-2),"
                    " i -> struct(t[i] AS x, t[i+1] AS y))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .where(F.col("n_xy") >= min_count)
    )
    tot = toks.select(F.size("t").alias("nt")).agg(
        F.sum("nt").alias("n_u"),
        F.sum(F.greatest(F.col("nt") - 1, F.lit(0))).alias("n_bg"),
    )
    ux = uni.select(F.col("term").alias("x"), F.col("c").alias("c_x"))
    uy = uni.select(F.col("term").alias("y"), F.col("c").alias("c_y"))
    pmi = F.log(
        (F.col("n_xy") / F.col("n_bg"))
        / ((F.col("c_x") / F.col("n_u")) * (F.col("c_y") / F.col("n_u")))
    )
    return (
        pairs.join(ux, "x")
        .join(uy, "y")
        .join(F.broadcast(tot))
        .select(
            "x",
            "y",
            F.concat_ws(" ", "x", "y").alias("bigram"),
            "n_xy",
            pmi.alias("pmi"),
        )
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_tokens, distinct_ratio, top_bigram_frac, dup_trigram_frac):
    per-document repetition signals in the style of the Gopher quality
    filters (Rae et al. 2021, Appendix A1) — a training-data pipeline drops
    documents dominated by repeated n-grams before they poison a tokenizer
    or an LM.  Token-level (the synthetic docs are single-line):

      * ``distinct_ratio``    = |distinct tokens| / n_tokens
      * ``top_bigram_frac``   = 2 · (count of the most frequent bigram)
                                / n_tokens, clamped to 1.0
      * ``dup_trigram_frac``  = 3 · Σ counts of trigrams occurring ≥ 2×
                                / n_tokens, clamped to 1.0

    Plan shape: ONE tokenize expression; per-doc distinct via
    ``array_distinct`` (no explode); the two n-gram branches build grams
    in-plan with ``transform(sequence(...))`` (JVM, no UDF) and aggregate
    doc-keyed — balanced by construction, every shuffle key is a doc id, so
    a hot *term* can never skew a partition.  All counts exact BIGINTs;
    the three fractions are the only floats.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_extract_all(
            F.lower(F.trim(F.col(text_col))), F.lit(r"\S+"), 0
        ).alias("t"),
    )
    base = toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
    )
    top_bg = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t)-2),"
                    " i -> concat(t[i], ' ', t[i+1]))"
                )
            ).alias("bg"),
        )
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bg_c"))
    )
    dup_tg = (
        toks.where(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t)-3),"
                    " i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))"
                )
            ).alias("tg"),
        )
        .groupBy("doc_id", "tg")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .groupBy("doc_id")
        .agg(F.sum("c").alias("dup_tg_c"))
    )
    nt = F.col("n_tokens").cast("double")
    return (
        base.join(top_bg, "doc_id", "left")
        .join(dup_tg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_distinct") / nt).alias("distinct_ratio"),
            F.least(
                F.lit(1.0),
                F.coalesce(F.col("top_bg_c"), F.lit(0)) * 2 / nt,
            ).alias("top_bigram_frac"),
            F.least(
                F.lit(1.0),
                F.coalesce(F.col("dup_tg_c"), F.lit(0)) * 3 / nt,
            ).alias("dup_trigram_frac"),
        )
    )


def ngram_overlap(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = True,
) -> DataFrame:
    """(doc_id, n_grams, n_hits, overlap_frac): per-TRAIN-document overlap
    of character ``n``-grams against the union of the EVAL set's grams —
    the decontamination check every LLM training pipeline runs so benchmark
    text doesn't leak into the training corpus (e.g. GPT-3 App. C /
    PaLM-style 13-gram overlap, here over normalized char grams).

    Plan shape: both sides build grams in-plan (``transform(sequence(...))``
    + explode — JVM, no UDF), dedup per doc (train) / globally (eval), then
    ONE join keyed on the gram.  ``hash_grams=True`` (the at-scale default)
    joins on ``xxhash64(gram)`` instead of the raw string: at 100 TB the
    shuffle moves 8-byte keys instead of ~n-byte strings; collisions are
    ~|grams|²/2⁶⁴ — negligible, and a false hit only ever makes the check
    MORE conservative (flags, never clears).  The eval side of the join is
    small by definition (benchmarks, not corpora) — broadcast it.
    """
    s = F.lower(F.trim(F.col(text_col)))
    gram = F.explode(
        F.expr(
            f"transform(sequence(1, greatest(length(_s) - {n - 1}, 0)),"
            f" i -> substring(_s, i, {n}))"
        )
    ).alias("g")
    key = (lambda c: F.xxhash64(c)) if hash_grams else (lambda c: c)

    train_g = (
        train.select(F.col(id_col).alias("doc_id"), s.alias("_s"))
        .where(F.length("_s") >= n)
        .select("doc_id", gram)
        .select("doc_id", key(F.col("g")).alias("k"))
        .distinct()
    )
    eval_g = (
        eval_docs.select(s.alias("_s"))
        .where(F.length("_s") >= n)
        .select(gram)
        .select(key(F.col("g")).alias("k"))
        .distinct()
    )
    per_doc = train_g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        train_g.join(F.broadcast(eval_g), "k", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return per_doc.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        (
            F.coalesce("n_hits", F.lit(0)) / F.col("n_grams").cast("double")
        ).alias("overlap_frac"),
    )
