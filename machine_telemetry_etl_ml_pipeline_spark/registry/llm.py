"""``llm_*`` entries: LLM-data-pipeline operators over ``documents`` and
``images``.

Exact, near-duplicate and semantic dedup (MinHash, SimHash, LSH,
winnowing, embedding similarity), ANN retrieval, text statistics and
quality filters, language id, tokenisation proxies, packing and
chunking, decontamination, retrieval scoring (TF-IDF, BM25) and
multimodal packing. Embeddings and hashes are integer-exact on both
engines; float outputs are rounded where the two engines agree bitwise.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..llm import multimodal as mm
from ..llm import textstats as ts
from ..llm.dedup import (
    char_shingles,
    exact_dedup_keep_first,
    jaccard_pairs,
    lsh_candidate_pairs,
    lsh_star_edges,
    minhash_from_docs,
    simhash16,
    with_fingerprint,
    word_ngrams,
)
from ..llm.prep import hex_bucket_sql, md5_bucket
from ..llm.similarity import (
    ADAPTIVE_SIGN_DIMS,
    _as_double,
    adaptive_bits_expr,
    adaptive_sign_bucket,
    brute_force_topk,
    dot,
    lsh_bucket_counts,
    lsh_topk,
    multiprobe_lsh_topk,
    norm,
    random_hyperplanes,
)
from ..llm.textstats import words_col
from ..operators.ckpt import checkpoint_rotate, retire_ids
from . import _t, register
from .ext import _HEX1


@register(
    "llm_embedding_neardup",
    """
    WITH bb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
                + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
                + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END) AS INTEGER) AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS a, b.vec_id AS b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 4) AS cosine_sim
    FROM bb a JOIN bb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) > 0.35
    """,
)
def llm_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: candidates from sign-LSH
    buckets (1/16th of the pair space scored), exact cosine filter
    above threshold — the embedding analog of MinHash-LSH + Jaccard
    verification. Norms are precomputed once per vector (r5: the
    inlined cosine() re-folded both norms per pair, twice — filter and
    projection; same floats, ~3x less fold work)."""
    from ..llm.similarity import _as_double, dot, norm, sign_bucket

    e = _t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        sign_bucket(F.col("embedding"), [1, 9, 17, 25]).alias("bucket"),
    ).withColumn("nrm", norm(F.col("v")))
    a = base.alias("a")
    b = base.alias("b")
    sim = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("a"),
            F.col("b.vec_id").alias("b"),
            sim.alias("sim_raw"),
        )
        .filter(F.col("sim_raw") > 0.35)
        .select("a", "b", F.round(F.col("sim_raw"), 4).alias("cosine_sim"))
    )


@register(
    "llm_simhash_hamming_pairs",
    """
    WITH
      sh AS (
        SELECT DISTINCT doc_id, substr(text, i, 5) AS shingle FROM (
          SELECT doc_id, text,
                 unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i
          FROM documents WHERE doc_id < 100
        )
      ),
      sums AS (SELECT doc_id, """
    + ", ".join(
        f"sum(strpos('0123456789abcdef', substr(md5(shingle), {p}, 1)) - 8.5) AS s{p}"
        for p in range(1, 17)
    )
    + """ FROM sh GROUP BY doc_id),
      sh16 AS (SELECT doc_id, CAST("""
    + " + ".join(f"(CASE WHEN s{p} > 0 THEN {1 << (p - 1)} ELSE 0 END)" for p in range(1, 17))
    + """ AS BIGINT) AS simhash FROM sums)
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sh16 a JOIN sh16 b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def llm_simhash_hamming_pairs(spark, sf_dir):
    """SimHash near-dup detection: pairs within Hamming distance 3 on
    the 16-bit signature (100-doc slice). At scale the pair join is
    banded (join on signature bytes) rather than all-pairs; the
    all-pairs form here keeps the oracle simple while the banding
    strategy is what llm_lsh_candidate_pairs demonstrates."""
    from ..llm.dedup import char_shingles, simhash16

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    s = simhash16(char_shingles(d))
    a = s.alias("a")
    b = s.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(ham <= 3)
        .select(
            F.col("a.doc_id").alias("a"),
            F.col("b.doc_id").alias("b"),
            ham.cast("int").alias("hamming"),
        )
    )


# --- BM25 retrieval over documents -------------------------------------------

_BM25_TERMS = ("spark", "join", "vector")


_BM25_K1 = 1.2


_BM25_B = 0.75


_BM25_ORACLE = f"""
    WITH words AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, w, count(*) AS tf FROM words
      WHERE w IN {_BM25_TERMS!r} GROUP BY doc_id, w
    ),
    dft AS (SELECT w, count(*) AS df FROM tf GROUP BY w)
    SELECT doc_id,
           round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                     * tf * ({_BM25_K1} + 1.0)
                     / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))), 4)
             AS bm25
    FROM tf JOIN dft USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
"""


@register("llm_bm25_score", _BM25_ORACLE)
def llm_bm25_score(spark, sf_dir):
    """BM25 lexical relevance of every matching document for a fixed
    query (Okapi k1=1.2, b=0.75). The scale shape: document length is
    size(words) — an array expression, NO explode and no shuffle, so
    the corpus-wide Generate runs exactly once (for tf) instead of
    twice; the term filter is applied BEFORE any aggregation, so the
    per-term tf table is bounded by documents containing query terms,
    not by the corpus; the per-term df table and the 1-row corpus
    stats are broadcast. Only the dl join shuffles on doc_id — and
    only for candidate docs."""
    d = _t(spark, sf_dir, "documents")
    # dl > 0: the oracle's dl CTE is derived from exploded words, so an
    # empty/whitespace-only document never gets a dl row there — filter
    # the array-expression side identically so both engines define the
    # corpus (n_docs, avgdl) over the same set.
    dl = d.select("doc_id", F.size(words_col(F.col("text"))).alias("dl")).filter(
        F.col("dl") > 0
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        d.select("doc_id", F.explode(words_col(F.col("text"))).alias("w"))
        .filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    contrib = idf * F.col("tf") * (_BM25_K1 + 1.0) / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dft), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 4).alias("bm25"))
    )


@register(
    "llm_inverted_index",
    """
    WITH words AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ),
    tf AS (SELECT w, doc_id, count(*) AS tf FROM words GROUP BY w, doc_id),
    ranked AS (
      SELECT w, doc_id, tf,
             CAST(sum(tf) OVER (PARTITION BY w) AS BIGINT) AS total_tf,
             count(*) OVER (PARTITION BY w) AS df,
             row_number() OVER (PARTITION BY w ORDER BY tf DESC, doc_id ASC) AS rn
      FROM tf
    )
    SELECT w AS term, df, total_tf, doc_id AS top_doc_id, tf AS top_tf
    FROM ranked WHERE rn = 1
    """,
)
def llm_inverted_index(spark, sf_dir):
    """Inverted-index posting-list statistics: per term, document
    frequency, total term frequency, and the highest-tf posting
    (deterministic doc_id tiebreak). One explode + one (w, doc_id)
    groupBy + one window over the term partition — the posting table
    is vocabulary x df bounded, and every stage is partial-aggregable
    or term-partitioned (no global shuffle wider than the term key)."""
    d = _t(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(words_col(F.col("text"))).alias("w"))
    tf = words.groupBy("w", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    from pyspark.sql.window import Window

    w_term = Window.partitionBy("w")
    w_rank = w_term.orderBy(F.desc("tf"), F.asc("doc_id"))
    return (
        tf.withColumn("total_tf", F.sum("tf").over(w_term))
        .withColumn("df", F.count(F.lit(1)).over(w_term))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            F.col("w").alias("term"),
            "df",
            "total_tf",
            F.col("doc_id").alias("top_doc_id"),
            F.col("tf").alias("top_tf"),
        )
    )


# --- novel n-gram ratio (priority dedup scoring) -------------------------------


@register(
    "llm_novel_ngram_ratio",
    """
    WITH grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(ws, i, i + 7), ' ') AS g8
      FROM (
        SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS i
        FROM (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
          FROM documents
        )
      )
    ),
    owner AS (SELECT g8, min(doc_id) AS owner FROM grams GROUP BY g8)
    SELECT g.doc_id,
           count(*) AS n_grams,
           CAST(count(*) FILTER (WHERE o.owner = g.doc_id) AS BIGINT) AS n_novel,
           round(CAST(count(*) FILTER (WHERE o.owner = g.doc_id) AS DOUBLE)
                 / count(*), 4) AS novel_ratio
    FROM grams g JOIN owner o ON g.g8 = o.g8
    GROUP BY g.doc_id
    """,
)
def llm_novel_ngram_ratio(spark, sf_dir):
    """Novel-n-gram scoring (the C4/RefinedWeb-style priority-dedup
    signal): for each document, the fraction of its distinct word
    8-grams it is the FIRST (min doc_id) to introduce — near-copies of
    earlier documents score near 0 and get dropped first.

    r13 shape (guide §2.3/§2.4): the oracle's DISTINCT (doc_id, g8) is
    per-document dedup, so it is computed IN-ROW with array_distinct —
    no global distinct exchange of gram text — and n_grams is just
    size() of that array, shuffle-free. Novelty never needs the
    gram-keyed join back either: min(doc_id) per gram (partial-
    aggregable; duplicates collapse map-side so the one gram-keyed
    exchange carries each distinct task-local gram once) followed by a
    count per winning doc — skinny doc-keyed rows, exactly one gram-
    text exchange end to end (the r4-r12 shape shuffled gram text
    twice more: a global distinct and a gram-keyed join). No all-pairs
    comparison anywhere."""
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # Bind the word array to an attribute BEFORE the lambda: an
    # expression captured inside transform() is re-evaluated per
    # element (measured r13: inlining the split made the gram build
    # O(words^2) per doc, 3.8s vs 1.1s at sf0.1).
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(F.col("ws")) - F.lit(7), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i, 8)),
    )
    # One explicit gram-keyed exchange feeds BOTH aggregates
    # (ReuseExchange: identical subtree) — the gram build runs once
    # and the gram text crosses the wire once. n_grams = the per-doc
    # row count of the already-deduped explode; novelty = count per
    # winning doc of the per-shingle min (no exchange above the
    # repartition for the shingle agg: partitioning already satisfied).
    ex = (
        d.select("doc_id", ws.alias("ws"))
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
        .repartition("shingle")
    )
    novel_counts = (
        ex.groupBy("shingle")
        .agg(F.min("doc_id").alias("owner"))
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    n_novel = F.coalesce(F.col("n_novel"), F.lit(0).cast("long"))
    return (
        ex.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        .join(novel_counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            n_novel.alias("n_novel"),
            F.round(n_novel.cast("double") / F.col("n_grams"), 4).alias("novel_ratio"),
        )
    )


# --- multimodal frame sampling ------------------------------------------------


@register(
    "llm_multimodal_framesample",
    """
    SELECT doc_id AS asset_id,
           t.fi AS frame_idx,
           md5(substring(text, CAST(t.fi * 16 + 1 AS BIGINT), 16)) AS frame_md5,
           CAST(length(text) // 16 AS BIGINT) AS n_frames
    FROM documents,
         unnest(generate_series(0, CAST(length(text) // 16 AS BIGINT) - 1, 4)) AS t(fi)
    """,
)
def llm_multimodal_framesample(spark, sf_dir):
    """Multimodal frame sampling with an EXACT oracle: documents are
    packed into the opaque-binary asset convention, the payload is
    treated as 16-byte frames, and every 4th full frame is
    fingerprinted via Arrow-batched mapInPandas
    (llm/multimodal.frame_sample) — the distributed batch shape a real
    video frame-sampler runs in, minus only the codec. The corpus is
    ASCII (asserted by the oracle's char-slicing equivalence: DuckDB
    md5(substring(text,...)) hashes the same bytes Python slices), so
    the rows-only limitation of the stubbed decoder does not apply
    here. Narrow op: no shuffle, output ∝ sampled frames."""
    from ..llm.multimodal import frame_sample, pack_assets

    d = _t(spark, sf_dir, "documents")
    assets = pack_assets(d, "doc_id", "text", F.lit("video/fake"))
    return frame_sample(assets, frame_size=16, every=4)


# --- C4-style corpus-wide segment dedup ----------------------------------------


@register(
    "llm_segment_dedup",
    """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    segs AS (
      SELECT doc_id, CAST((i - 1) // 10 AS INT) AS seg_idx,
             array_to_string(list_slice(ws, i, least(i + 9, len(ws))), ' ') AS seg
      FROM (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws), 10)) AS i
        FROM ws WHERE len(ws) > 0
      )
    ),
    marked AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    )
    SELECT doc_id,
           count(*) AS n_segs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS kept_ratio
    FROM marked
    GROUP BY doc_id
    """,
)
def llm_segment_dedup(spark, sf_dir):
    """C4-style duplicated-line removal at corpus scope, on a corpus
    with no newlines: each document is cut into non-overlapping
    10-word segments (trailing partial kept, like a short last line),
    a segment survives only at its FIRST occurrence — min (doc_id,
    seg_idx) across the whole corpus — and every document reports its
    retention. Shapes for 100 TB: segments are built with array
    slice/zip expressions (one Generate, no self-join); first-
    occurrence is a PARTIAL-AGGREGABLE groupBy(seg).min(struct) — the
    r13 shape: duplicate segments collapse map-side and the one
    seg-keyed exchange carries a single (seg, min-owner) row per
    distinct segment per task, with NO sort (the r4-r12 window shape
    shuffled EVERY segment row's full text into a per-seg sort; guide
    §2.3 "aggregate before you shuffle"). Per-doc retention then
    needs only the winners: count firsts by owning doc (a doc-keyed
    exchange of <= |distinct segs| skinny rows) and join that onto
    per-doc segment counts computed arithmetically from the word
    count — ceil(|words|/10) = the exploded row count by construction
    — so the fact side never re-explodes. Nothing is ever quadratic
    in corpus size."""
    d = _t(spark, sf_dir, "documents")
    ws = words_col(F.col("text"))
    starts = F.sequence(F.lit(1), F.size(ws), F.lit(10))
    segs = F.transform(
        starts,
        lambda s, i: F.struct(
            i.cast("int").alias("seg_idx"),
            F.array_join(F.slice(ws, s, 10), " ").alias("seg"),
        ),
    )
    seg_rows = (
        d.filter(F.size(ws) > 0)
        .select("doc_id", F.explode(segs).alias("s"))
        .select("doc_id", F.col("s.seg_idx").alias("seg_idx"), F.col("s.seg").alias("seg"))
    )
    # The oracle's winner is min(doc_id, seg_idx) lexicographic — but
    # its OWNING DOC is determined by min(doc_id) alone (seg_idx only
    # breaks ties within one doc, and per distinct segment exactly one
    # winner row exists either way), so the aggregate buffer is a
    # plain LONG: HashAggregate fires (min over a struct falls back to
    # SortAggregate — measured r13: two extra Sorts of every exploded
    # segment row). Partial min collapses duplicates map-side.
    kept = (
        seg_rows.groupBy("seg")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    # sequence(1, n, 10) has exactly floor((n-1)/10)+1 elements for
    # n >= 1, so n_segs is arithmetic on the word count — no second
    # explode; doc_id is unique in documents, so no aggregation either.
    docstats = d.filter(F.size(ws) > 0).select(
        "doc_id",
        (F.floor((F.size(ws) - F.lit(1)) / F.lit(10)) + F.lit(1))
        .cast("long")
        .alias("n_segs"),
    )
    n_kept = F.coalesce(F.col("n_kept"), F.lit(0).cast("long"))
    return docstats.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_segs",
        n_kept.alias("n_kept"),
        F.round(n_kept.cast("double") / F.col("n_segs"), 4).alias("kept_ratio"),
    )


# --- bigram LM scoring (add-one smoothing) -------------------------------------


@register(
    "llm_bigram_logprob",
    """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    bigrams AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
            FROM ws WHERE len(ws) > 1)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bigrams GROUP BY w1),
    v AS (
      SELECT count(DISTINCT w) AS vocab
      FROM (SELECT w1 AS w FROM bigrams UNION ALL SELECT w2 FROM bigrams)
    )
    SELECT doc_id,
           round(avg(ln(CAST(c12 + 1 AS DOUBLE) / (c1 + vocab))), 4)
             AS mean_logprob,
           count(*) AS n_bigrams
    FROM bigrams
    JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    GROUP BY doc_id
    """,
)
def llm_bigram_logprob(spark, sf_dir):
    """Per-document bigram language-model score with add-one
    smoothing: mean ln((c(w1,w2)+1) / (c(w1)+|V|)) — the perplexity
    proxy quality filters use one step beyond llm_unigram_logprob's
    unigram LM. Shapes for 100 TB: bigrams come from zip_with over
    shifted slices (one Generate, no self-join); c12/c1 are
    partial-aggregable counts joined back on their own keys (pair- and
    word-keyed shuffles, never row x vocab); |V| is a 1-row broadcast
    cross join."""
    d = _t(spark, sf_dir, "documents")
    ws = words_col(F.col("text"))
    n = F.size(ws)
    pair_arr = F.zip_with(
        F.slice(ws, 1, n - 1),
        F.slice(ws, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bigrams = (
        d.filter(n > 1)
        .select("doc_id", F.explode(pair_arr).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c12 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        bigrams.select(F.col("w1").alias("w"))
        .unionAll(bigrams.select(F.col("w2").alias("w")))
        .agg(F.countDistinct("w").alias("vocab"))
    )
    scored = (
        bigrams.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log((F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("vocab"))).alias(
                "lp"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.avg("lp"), 4).alias("mean_logprob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


# --- k-NN label prediction accuracy --------------------------------------------


@register(
    "llm_knn_label_accuracy",
    """
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, label AS true_label, v AS qv
      FROM e WHERE vec_id < 50
    ),
    scored AS (
      SELECT query_id, true_label, e.label AS nlabel,
             round(list_dot_product(qv, v)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(v, v))), 4) AS sim,
             e.vec_id AS neighbor_id
      FROM q JOIN e ON e.vec_id <> q.query_id
    ),
    top5 AS (
      SELECT query_id, true_label, nlabel
      FROM (
        SELECT query_id, true_label, nlabel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rnk
        FROM scored
      ) WHERE rnk <= 5
    ),
    votes AS (
      SELECT query_id, true_label, nlabel, count(*) AS n_votes
      FROM top5 GROUP BY query_id, true_label, nlabel
    ),
    pred AS (
      SELECT query_id, true_label, nlabel AS pred_label
      FROM (
        SELECT query_id, true_label, nlabel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY n_votes DESC, nlabel) AS r
        FROM votes
      ) WHERE r = 1
    )
    SELECT count(*) AS n_queries,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM pred
    """,
)
def llm_knn_label_accuracy(spark, sf_dir):
    """k-NN classification accuracy (k=5, majority vote) over the
    embedding table — the eval loop that scores an embedding space
    before committing it to retrieval. Fully deterministic: cosine
    rounded to 4dp with neighbor-id tiebreaks picks the SAME top-5 in
    both engines, and vote ties break on the smaller label. Scale
    shape: the 50-query panel is broadcast against the corpus (one
    scan), votes/argmax are query-keyed aggregates; accuracy of a
    full-corpus eval would swap the broadcast side for the LSH/IVF
    candidate path like the ANN entries."""
    from pyspark.sql.window import Window

    from ..llm.similarity import _as_double, cosine

    e = _t(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "label", _as_double(F.col("embedding")).alias("v"))
    q = base.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("v").alias("qv"),
    )
    scored = base.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "true_label",
        F.col("label").alias("nlabel"),
        F.round(cosine(F.col("qv"), F.col("v")), 4).alias("sim"),
        F.col("vec_id").alias("neighbor_id"),
    )
    w_sim = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    top5 = scored.withColumn("rnk", F.row_number().over(w_sim)).filter(
        F.col("rnk") <= 5
    )
    votes = top5.groupBy("query_id", "true_label", "nlabel").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w_vote = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("nlabel").asc()
    )
    pred = (
        votes.withColumn("r", F.row_number().over(w_vote))
        .filter(F.col("r") == 1)
        .select("query_id", "true_label", F.col("nlabel").alias("pred_label"))
    )
    return pred.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(
            F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
        ).cast("long").alias("n_correct"),
    )


# --- winnowing fingerprints (MOSS-style) ---------------------------------------


@register(
    "llm_winnowing_fingerprints",
    """
    WITH grams AS (
      SELECT doc_id, i, md5(substr(text, i, 8)) AS h
      FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
        FROM documents
      )
    ),
    winmin AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             count(*) OVER (PARTITION BY doc_id) AS n_grams,
             i
      FROM grams
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp
      FROM winmin WHERE i <= n_grams - 3
    )
    SELECT doc_id, count(*) AS n_fingerprints, min(fp) AS min_fp
    FROM fps GROUP BY doc_id
    """,
)
def llm_winnowing_fingerprints(spark, sf_dir):
    """Winnowing document fingerprinting (the MOSS algorithm): hash
    every 8-char gram, slide a window of 4 consecutive gram hashes,
    keep each window's MINIMUM — guaranteeing any shared substring of
    length >= 11 yields at least one shared fingerprint while storing
    only ~2/(w+1) of the hashes. The fingerprint SET per document is
    order-insensitive, so the entry reports its size and minimum
    (hashable scalars).

    Plan shape: the window-min never leaves the row — gram hashes are
    an array column, the width-4 sliding min is a least-zip of the
    array with its 1/2/3-shifted tails, and the per-doc report is
    size/array_min of the distinct set. Zero shuffles, zero explode:
    at 100 TB this is a pure narrow map over documents, versus the
    exploded-gram plan that shuffled the full gram table three times
    (window + distinct + rollup).

    Expression-engine trap this encodes: a per-position lambda like
    transform(sequence(1, n-3), j -> array_min(slice(hs, j, 4)))
    is O(n^2) — CollapseProject inlines the md5-transform that
    defines hs into the lambda body, and interpreted HOF eval then
    rebuilds the whole hash array per window position (measured 90s
    on 50 docs). zip_with evaluates its array arguments once per ROW,
    and referencing hs four times in one projection blocks the
    inlining, so the md5 pass runs exactly once."""
    d = _t(spark, sf_dir, "documents")
    # the narrow plan's parallelism equals the scan's split count; a
    # small input (fewer splits than cores) gets one round-robin
    # repartition of the RAW text — far cheaper than the exploded gram
    # table the window formulation shuffled three times — while a
    # 100 TB input already has >> cores splits and skips the branch
    cores = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < cores:
        d = d.repartition(cores)
    n_grams = F.greatest(F.length("text") - 7, F.lit(1))
    gram_hashes = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.md5(F.col("text").substr(i, F.lit(8))),
    )
    hashed = d.select("doc_id", n_grams.alias("n_grams"), gram_hashes.alias("hs"))

    def shifted(k):
        return F.slice(
            F.col("hs"), k + 1, F.greatest(F.col("n_grams") - k, F.lit(1))
        )

    least = lambda a, b: F.least(a, b)  # noqa: E731 — null-safe min
    m01 = F.zip_with(F.col("hs"), shifted(1), least)
    m23 = F.zip_with(shifted(2), shifted(3), least)
    minarr = F.zip_with(m01, m23, least)
    # windows start at gram j = 1..n_grams-3; docs too short for one
    # full window emit no fingerprints (absent from output, like the
    # oracle's i <= n_grams - 3 filter)
    win = hashed.filter(F.col("n_grams") >= 4).select(
        "doc_id", "n_grams", minarr.alias("minarr")
    )
    fps = F.array_distinct(F.slice(F.col("minarr"), 1, F.col("n_grams") - 3))
    return win.select("doc_id", fps.alias("fps")).select(
        "doc_id",
        F.size("fps").alias("n_fingerprints"),
        F.array_min("fps").alias("min_fp"),
    )


# --- per-source document-length bands ------------------------------------------


@register(
    "llm_length_bands_by_source",
    """
    WITH lens AS (
      SELECT source,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS DOUBLE) AS n_tokens
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           round(quantile_cont(n_tokens, 0.1), 4) AS p10_tokens,
           round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
           round(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens
    FROM lens GROUP BY source
    """,
)
def llm_length_bands_by_source(spark, sf_dir):
    """Document-length percentile bands per source (P10/P50/P90 token
    counts) — the curation readout that exposes truncated or padded
    slices before they skew packing and loss weighting. Length is an
    array-size expression (no explode); exact grouped percentiles over
    the source-bounded groups."""
    d = _t(spark, sf_dir, "documents")
    n = F.size(words_col(F.col("text"))).cast("double")
    lens = d.select("source", n.alias("n_tokens"))
    return lens.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("n_tokens", F.lit(0.1)), 4).alias("p10_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.5)), 4).alias("p50_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.9)), 4).alias("p90_tokens"),
    )


# --- one-row corpus dashboard --------------------------------------------------


@register(
    "llm_corpus_dashboard",
    """
    WITH ws AS (
      SELECT doc_id, text, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    tok AS (SELECT sum(len(words)) AS n_tokens FROM ws),
    voc AS (
      SELECT count(DISTINCT w) AS vocab FROM (
        SELECT unnest(words) AS w FROM ws
      )
    ),
    dup AS (
      SELECT count(*) - count(DISTINCT md5(text)) AS n_exact_dups
      FROM documents
    )
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT count(DISTINCT source) FROM documents) AS n_sources,
           CAST(tok.n_tokens AS BIGINT) AS n_tokens,
           voc.vocab AS vocab_size,
           CAST(dup.n_exact_dups AS BIGINT) AS n_exact_dups,
           round(CAST(tok.n_tokens AS DOUBLE)
                 / (SELECT count(*) FROM documents), 4) AS mean_doc_tokens
    FROM tok, voc, dup
    """,
)
def llm_corpus_dashboard(spark, sf_dir):
    """The one-row corpus dashboard a curation run prints first:
    document/source counts, total tokens, vocabulary size, exact-dup
    count, and mean document length — five partial-aggregable scans
    composed as broadcast-joined singletons (each number is exactly
    the one its dedicated operator computes; this is the headline
    view)."""
    d = _t(spark, sf_dir, "documents")
    ws = words_col(F.col("text"))
    base = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(F.size(ws)).alias("n_tokens"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_exact_dups"),
    )
    vocab = d.select(F.explode(ws).alias("w")).agg(
        F.countDistinct("w").alias("vocab_size")
    )
    return (
        base.crossJoin(F.broadcast(vocab))
        .select(
            "n_docs",
            "n_sources",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "vocab_size",
            F.col("n_exact_dups").cast("long").alias("n_exact_dups"),
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_docs"), 4
            ).alias("mean_doc_tokens"),
        )
    )


# --- out-of-vocabulary rate by source ------------------------------------------


@register(
    "llm_oov_rate_by_source",
    """
    WITH words AS (
      SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS rnk
        FROM words GROUP BY w
      ) WHERE rnk <= 20
    )
    SELECT source,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS oov_rate
    FROM words LEFT JOIN vocab v USING (w)
    GROUP BY source
    """,
)
def llm_oov_rate_by_source(spark, sf_dir):
    """Out-of-vocabulary rate per source against a top-20 corpus
    vocabulary — the per-slice tokenizer coverage readout that decides
    which sources need vocab expansion (the drill-down behind
    llm_vocab_coverage's global curve). The vocabulary is rank-bounded
    and BROADCAST into a left join; token counting stays one pass."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    words = d.select("source", F.explode(words_col(F.col("text"))).alias("w"))
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rnk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("w")))
        )
        .filter(F.col("rnk") <= 20)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    return (
        words.join(F.broadcast(vocab), "w", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                4,
            ).alias("oov_rate"),
        )
    )


@register(
    "llm_jaccard_histogram",
    """
    WITH w3 AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(ws, i, i + 2), ' ') AS shingle
      FROM (
        SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
        FROM (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
          FROM documents WHERE doc_id < 40
        )
      )
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM w3 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_inter
      FROM w3 a JOIN w3 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT least(CAST(floor(n_inter / (sa.sz + sb.sz - n_inter) * 10)
                        AS BIGINT), 9) AS bucket
      FROM inter
      JOIN sizes sa ON sa.doc_id = a
      JOIN sizes sb ON sb.doc_id = b
    )
    SELECT bucket, round(bucket / 10.0, 1) AS bucket_lo, count(*) AS n_pairs
    FROM jac GROUP BY bucket
    """,
)
def llm_jaccard_histogram(spark, sf_dir):
    """Similarity-threshold calibration: the histogram of exact
    word-3-gram Jaccard over candidate pairs, in 0.1-wide buckets —
    the distribution a dedup pipeline inspects to place its keep/drop
    threshold before committing a full-corpus run (is the mass bimodal
    near 0 and 1, or smeared?). Same shingle-intersection machinery as
    llm_ngram_jaccard; buckets computed on exact integer-derived
    floors (top bucket closed at 9 so jaccard=1.0 doesn't overflow
    the domain)."""
    from ..llm.dedup import word_ngrams

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    sh = word_ngrams(d)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh.alias("l")
        .join(
            sh.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb"))
    jac = (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            F.least(
                F.floor(
                    F.col("n_inter")
                    / (F.col("sza") + F.col("szb") - F.col("n_inter"))
                    * 10
                ).cast("long"),
                F.lit(9),
            ).alias("bucket")
        )
    )
    return jac.groupBy("bucket").agg(
        F.round(F.col("bucket") / 10.0, 1).alias("bucket_lo"),
        F.count(F.lit(1)).alias("n_pairs"),
    ).select("bucket", "bucket_lo", "n_pairs")


# --- dedup cluster-size report -------------------------------------------------

_CLUSTER_SIZES_ORACLE = """
    WITH sh AS (
      SELECT DISTINCT doc_id, substr(text, i, 5) AS shingle FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i
        FROM documents
      )
    ),
    mh AS (
      SELECT doc_id,
             min(substr(md5(shingle), 1, 8))  AS mh1, min(substr(md5(shingle), 9, 8))  AS mh2,
             min(substr(md5(shingle), 17, 8)) AS mh3, min(substr(md5(shingle), 25, 8)) AS mh4
      FROM sh GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, md5(mh1 || '|' || mh2) AS band_key FROM mh
      UNION ALL
      SELECT doc_id, md5(mh3 || '|' || mh4) AS band_key FROM mh
    ),
    edges AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM banded l JOIN banded r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
    ),
    sym AS (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
    reach AS (
      WITH RECURSIVE reach0(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, s.v FROM reach0 r JOIN sym s ON r.dst = s.u
      )
      SELECT * FROM reach0
    ),
    comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src),
    sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
    SELECT cluster_size,
           count(*) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
           CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_removable
    FROM sizes GROUP BY cluster_size
"""


@register("llm_dedup_cluster_sizes", _CLUSTER_SIZES_ORACLE)
def llm_dedup_cluster_sizes(spark, sf_dir):
    """Dedup impact report: the cluster-size histogram of the MinHash-
    LSH near-dup graph — how many singletons, how many k-sized
    families, and how many documents a keep-one policy would remove
    (the number a curation run publishes before committing a dedup).
    Built on the same bucket-star + pointer-jumping components as
    llm_dedup_components; the rollup adds two tiny component-keyed
    aggregations."""
    from ..llm.cluster import connected_components
    from ..llm.dedup import lsh_star_edges, minhash_from_docs

    d = _t(spark, sf_dir, "documents")
    comp = connected_components(
        d.select("doc_id"), lsh_star_edges(minhash_from_docs(d))
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count(F.lit(1)))
        .cast("long")
        .alias("n_removable"),
    )


# --- boilerplate prefix detection ----------------------------------------------


@register(
    "llm_boilerplate_prefix",
    """
    WITH heads AS (
      SELECT doc_id, source,
             array_to_string(list_slice(
               list_filter(string_split(text, ' '), x -> x <> ''), 1, 5), ' ')
               AS head5
      FROM documents
    ),
    freq AS (
      SELECT source, head5, count(*) AS n_docs
      FROM heads GROUP BY source, head5
    )
    SELECT h.doc_id, h.source, f.n_docs AS prefix_family_size,
           CASE WHEN f.n_docs >= 3 THEN 1 ELSE 0 END AS boilerplate_flag
    FROM heads h JOIN freq f ON h.source = f.source AND h.head5 = f.head5
    """,
)
def llm_boilerplate_prefix(spark, sf_dir):
    """Boilerplate-header detection: documents from the same source
    sharing their first 5 words are flagged as template families (the
    scraped-page header/footer pattern C4-style cleaning strips before
    dedup). The prefix fingerprint is an array-slice expression, the
    family count a (source, prefix)-keyed partial-aggregable
    aggregate joined back on its own key — no pairwise comparison
    anywhere."""
    d = _t(spark, sf_dir, "documents")
    head5 = F.array_join(F.slice(words_col(F.col("text")), 1, 5), " ")
    heads = d.select("doc_id", "source", head5.alias("head5"))
    freq = heads.groupBy("source", "head5").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return heads.join(freq, ["source", "head5"]).select(
        "doc_id",
        "source",
        F.col("n_docs").alias("prefix_family_size"),
        F.when(F.col("n_docs") >= 3, 1).otherwise(0).alias("boilerplate_flag"),
    )


# --- n-gram containment (asymmetric near-dup) ----------------------------------


@register(
    "llm_ngram_containment",
    """
    WITH w3 AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(ws, i, i + 2), ' ') AS shingle
      FROM (
        SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
        FROM (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
          FROM documents WHERE doc_id < 40
        )
      )
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM w3 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_inter
      FROM w3 a JOIN w3 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a, b,
           round(CAST(n_inter AS DOUBLE) / least(sa.sz, sb.sz), 4) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    """,
)
def llm_ngram_containment(spark, sf_dir):
    """Containment (|A∩B| / min(|A|,|B|)) over word-3-gram sets — the
    ASYMMETRIC near-dup measure that catches a document embedded
    inside a larger one, where Jaccard dilutes toward zero (the quote/
    boilerplate-inclusion case Jaccard-only dedup misses). Same
    shingle-intersection machinery as llm_ngram_jaccard (candidate
    pairs from shared shingles only, never all-pairs); only the
    normalizer changes."""
    from ..llm.dedup import word_ngrams

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    sh = word_ngrams(d)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh.alias("l")
        .join(
            sh.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("n_inter").cast("double") / F.least("sza", "szb"), 4
            ).alias("containment"),
        )
    )


# --- character-distribution entropy --------------------------------------------


@register(
    "llm_char_entropy",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split(regexp_replace(text, ' ', '', 'g'), ''))
               AS ch
      FROM documents
    ),
    freq AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch),
    tot AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n FROM freq GROUP BY doc_id)
    SELECT doc_id,
           round(-sum((c / n) * ln(c / n)), 4) AS char_entropy,
           count(*) AS n_distinct_chars
    FROM freq JOIN tot USING (doc_id)
    GROUP BY doc_id
    """,
)
def llm_char_entropy(spark, sf_dir):
    """Character-distribution Shannon entropy per document (spaces
    excluded) — the cheap gibberish/boilerplate detector quality
    filters run before anything tokenizes: near-zero entropy flags
    repeated-character junk, unusually high flags binary-in-text.
    One explode into a (doc, char)-keyed partial-aggregable count;
    the alphabet is bounded, so the per-doc state is tiny at any
    corpus size."""
    d = _t(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id",
        F.explode(
            F.split(F.regexp_replace(F.col("text"), " ", ""), "")
        ).alias("ch"),
    ).filter(F.col("ch") != "")
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.groupBy("doc_id").agg(F.sum("c").cast("double").alias("n"))
    return (
        freq.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.round(
                -F.sum((F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n"))), 4
            ).alias("char_entropy"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
        )
    )


# --- temperature-scaled source mixing ------------------------------------------


@register(
    "llm_source_temperature_mix",
    """
    WITH counts AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS total FROM counts),
    shares AS (
      SELECT source, n_docs,
             n_docs / total AS raw_share,
             pow(n_docs / total, 0.7) AS unnorm
      FROM counts CROSS JOIN tot
    )
    SELECT source, n_docs,
           round(raw_share, 4) AS raw_share,
           round(unnorm / (SELECT sum(unnorm) FROM shares), 4) AS temp_share,
           CAST(round((unnorm / (SELECT sum(unnorm) FROM shares)) * 10000)
                AS BIGINT) AS sample_quota_10k
    FROM shares
    """,
)
def llm_source_temperature_mix(spark, sf_dir):
    """Temperature-scaled source mixing (tau = 0.7): the exponentiated
    re-weighting multilingual/multi-source training runs use to
    up-sample small sources without flattening big ones (share^tau,
    renormalized), plus the integer sample quota out of 10k — the
    numbers a data-mixing config actually records. Pure arithmetic
    over a source-keyed count (partial-aggregable; the normalization
    constant is a 1-row broadcast)."""
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").cast("double").alias("total"))
    shares = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        (F.col("n_docs") / F.col("total")).alias("raw_share"),
        F.pow(F.col("n_docs") / F.col("total"), 0.7).alias("unnorm"),
    )
    z = shares.agg(F.sum("unnorm").alias("z"))
    return shares.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.round("raw_share", 4).alias("raw_share"),
        F.round(F.col("unnorm") / F.col("z"), 4).alias("temp_share"),
        F.round(F.col("unnorm") / F.col("z") * 10000)
        .cast("long")
        .alias("sample_quota_10k"),
    )


# --- TF-IDF keyword extraction -------------------------------------------------


@register(
    "llm_tfidf_topk_terms",
    """
    WITH words AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, w, round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
      FROM tf JOIN df USING (w) CROSS JOIN n
    )
    SELECT doc_id, w AS term, tfidf, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT doc_id, w, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, w) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def llm_tfidf_topk_terms(spark, sf_dir):
    """TF-IDF keyword extraction: the 3 most characteristic terms per
    document (tf x ln(N/df), deterministic term tiebreak) — the
    classic document-labeling pass a curation pipeline runs for
    clustering and topic mixes. Scale shape: tf is a (doc, term)
    partial-aggregable count off ONE explode; df re-aggregates tf by
    term (vocabulary-bounded); N is a 1-row broadcast; top-3 per doc
    is a WindowGroupLimit-prunable window, never a global sort."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(words_col(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "w",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("w"))
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", F.col("w").alias("term"), "tfidf", "rnk")
    )


# --- MinHash LSH band tuning ---------------------------------------------------

_BAND_SHINGLES_SQL = """
  sh AS (
    SELECT DISTINCT doc_id, substr(text, i, 5) AS shingle FROM (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i
      FROM documents
    )
  ),
  mh AS (
    SELECT doc_id,
           min(substr(md5(shingle), 1, 8))  AS mh1, min(substr(md5(shingle), 9, 8))  AS mh2,
           min(substr(md5(shingle), 17, 8)) AS mh3, min(substr(md5(shingle), 25, 8)) AS mh4
    FROM sh GROUP BY doc_id
  )
"""


@register(
    "llm_minhash_band_tuning",
    f"""
    WITH {_BAND_SHINGLES_SQL},
    b41 AS (
      SELECT doc_id, md5('b1|' || mh1) AS k FROM mh
      UNION ALL SELECT doc_id, md5('b2|' || mh2) FROM mh
      UNION ALL SELECT doc_id, md5('b3|' || mh3) FROM mh
      UNION ALL SELECT doc_id, md5('b4|' || mh4) FROM mh
    ),
    b22 AS (
      SELECT doc_id, md5('b1|' || mh1 || '|' || mh2) AS k FROM mh
      UNION ALL SELECT doc_id, md5('b2|' || mh3 || '|' || mh4) FROM mh
    ),
    b14 AS (
      SELECT doc_id,
             md5('b1|' || mh1 || '|' || mh2 || '|' || mh3 || '|' || mh4) AS k
      FROM mh
    ),
    p41 AS (SELECT count(*) AS n FROM (
      SELECT DISTINCT l.doc_id, r.doc_id FROM b41 l
      JOIN b41 r ON l.k = r.k AND l.doc_id < r.doc_id)),
    p22 AS (SELECT count(*) AS n FROM (
      SELECT DISTINCT l.doc_id, r.doc_id FROM b22 l
      JOIN b22 r ON l.k = r.k AND l.doc_id < r.doc_id)),
    p14 AS (SELECT count(*) AS n FROM (
      SELECT DISTINCT l.doc_id, r.doc_id FROM b14 l
      JOIN b14 r ON l.k = r.k AND l.doc_id < r.doc_id))
    SELECT '4x1' AS config, 4 AS n_bands, 1 AS rows_per_band, n AS n_pairs FROM p41
    UNION ALL
    SELECT '2x2', 2, 2, n FROM p22
    UNION ALL
    SELECT '1x4', 1, 4, n FROM p14
    """,
)
def llm_minhash_band_tuning(spark, sf_dir):
    """LSH banding parameter sweep: candidate-pair counts for the
    three band layouts of a 4-component MinHash signature (4 bands x
    1 row = recall-leaning, 2x2 = balanced, 1x4 = precision-leaning)
    — the probe a dedup pipeline runs to place the S-curve before
    committing a config at full scale. The signature pipeline is
    materialized ONCE (an eager checkpoint) and each layout is a
    band-keyed self-equi-join over its own exploded key set (band
    index is baked into the key, so no cross-band collisions); counts
    decrease monotonically as rows-per-band grows."""
    from ..llm.dedup import minhash_from_docs

    d = _t(spark, sf_dir, "documents")
    sigs, _ = checkpoint_rotate(minhash_from_docs(d))

    def pairs_count(groups, label, n_bands, rows_per_band):
        keys = [
            F.md5(
                F.concat_ws("|", F.lit(f"b{bi}"), *[F.col(c) for c in cols])
            )
            for bi, cols in enumerate(groups, 1)
        ]
        banded = sigs.select("doc_id", F.explode(F.array(*keys)).alias("k"))
        pairs = (
            banded.alias("l")
            .join(
                banded.alias("r"),
                (F.col("l.k") == F.col("r.k"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
            .distinct()
        )
        return pairs.agg(F.count(F.lit(1)).alias("n_pairs")).select(
            F.lit(label).alias("config"),
            F.lit(n_bands).alias("n_bands"),
            F.lit(rows_per_band).alias("rows_per_band"),
            "n_pairs",
        )

    return (
        pairs_count([["mh1"], ["mh2"], ["mh3"], ["mh4"]], "4x1", 4, 1)
        .unionAll(pairs_count([["mh1", "mh2"], ["mh3", "mh4"]], "2x2", 2, 2))
        .unionAll(pairs_count([["mh1", "mh2", "mh3", "mh4"]], "1x4", 1, 4))
    )


# --- filtered vector search ----------------------------------------------------


@register(
    "llm_ann_filtered_topk",
    """
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, label AS qlabel, v AS qv
      FROM e WHERE vec_id < 10
    ),
    scored AS (
      SELECT query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(qv, v)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(v, v))), 4) AS cosine_sim
      FROM q JOIN e ON e.vec_id <> q.query_id AND e.label <> q.qlabel
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def llm_ann_filtered_topk(spark, sf_dir):
    """FILTERED vector search — top-5 cosine neighbors restricted by a
    metadata predicate (neighbor label must differ from the query's
    label; the hard-negative-mining query contrastive training runs,
    and the filtered-search feature every vector store advertises).
    The predicate is applied BEFORE ranking (pre-filter, exact), not
    post-filtering a larger top-k (which can return < k rows). Same
    scale shape as the exact baseline: bounded query set broadcast,
    corpus scanned once, per-query top-k via partial WindowGroupLimit;
    the label predicate rides the broadcast join condition."""
    from pyspark.sql.window import Window

    from ..llm.similarity import _as_double, cosine

    e = _t(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "label", _as_double(F.col("embedding")).alias("v"))
    q = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    scored = base.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("query_id")) & (F.col("label") != F.col("qlabel")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("qv"), F.col("v")), 4).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


# --- tokenizer vocab coverage curve -------------------------------------------


@register(
    "llm_vocab_coverage",
    """
    WITH words AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ),
    freq AS (SELECT w, count(*) AS c FROM words GROUP BY w),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rn FROM freq
    ),
    total AS (
      SELECT CAST(sum(c) AS BIGINT) AS tot, count(*) AS vocab_size FROM freq
    )
    SELECT k,
           round(CAST(sum(CASE WHEN rn <= k THEN c ELSE 0 END) AS DOUBLE)
                 / max(tot), 4) AS coverage,
           max(vocab_size) AS vocab_size
    FROM ranked
    CROSS JOIN total
    CROSS JOIN (SELECT unnest([5, 10, 20]) AS k)
    GROUP BY k
    """,
)
def llm_vocab_coverage(spark, sf_dir):
    """Tokenizer-design coverage curve: what fraction of all corpus
    tokens the top-k vocabulary covers, at k = 5/10/20 — the number a
    tokenizer team reads before choosing vocab size. The corpus-wide
    frequency table is a partial-aggregable word-keyed count; the
    global rank window then runs over the VOCABULARY (bounded by
    distinct words, not corpus rows — documented single-partition
    sort, the same bound every tokenizer trainer accepts), and the
    coverage cut is a conditional sum per k."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(words_col(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = freq.select(
        "c", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("w"))).alias("rn")
    )
    total = freq.agg(
        F.sum("c").alias("tot"), F.count(F.lit(1)).alias("vocab_size")
    )
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(5), F.lit(10), F.lit(20))).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.round(
                F.sum(F.when(F.col("rn") <= F.col("k"), F.col("c")).otherwise(0)).cast(
                    "double"
                )
                / F.max("tot"),
                4,
            ).alias("coverage"),
            F.max("vocab_size").alias("vocab_size"),
        )
    )


# --- BPE-style tokenizer induction: first merge step ---------------------------


@register(
    "llm_bpe_merge_step",
    """
    WITH ws AS (
      SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    pairs AS (
      SELECT ws[i] || ' ' || ws[i + 1] AS pair
      FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
            FROM ws WHERE len(ws) > 1)
    )
    SELECT pair, count(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def llm_bpe_merge_step(spark, sf_dir):
    """One merge step of BPE-style tokenizer induction: count every
    adjacent symbol pair across the corpus and emit the 20 most
    frequent (the pair a real BPE trainer would merge next, plus
    runners-up; deterministic pair-text tiebreak). The pair stream is
    zip_with over two shifted slices of the SAME word array — a single
    Generate per document, no posexplode self-join, no window — then
    one pair-keyed partial-aggregable count. At 100 TB this is exactly
    one shuffle of (pair, partial count), the minimum any global
    frequency count needs."""
    d = _t(spark, sf_dir, "documents")
    ws = words_col(F.col("text"))
    n = F.size(ws)
    pairs = F.zip_with(
        F.slice(ws, 1, n - 1),
        F.slice(ws, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        d.filter(n > 1)
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


_BUCKET4 = (
    f"((({_HEX1.format(p=1)}) * 16 + ({_HEX1.format(p=2)})) * 16"
    f" + ({_HEX1.format(p=3)})) * 16 + ({_HEX1.format(p=4)})"
)


@register(
    "llm_quota_sample_by_source",
    f"""
    WITH s AS (
      SELECT source, count(*) AS n_docs,
             CAST(round(pow(count(*), 0.7)) AS BIGINT) AS unnorm
      FROM documents GROUP BY source
    ),
    z AS (SELECT sum(unnorm) AS z, sum(n_docs) AS total FROM s),
    rates AS (
      SELECT source, n_docs,
             -- integer threshold in 16^4 buckets: ~30% corpus budget
             -- split by temperature-flattened share n^0.7, capped at
             -- the full source; all-integer math so both engines cut
             -- at the identical bucket
             least(CAST(65536 AS BIGINT),
                   (3 * total * unnorm * 65536) // (10 * z * n_docs))
               AS thresh
      FROM s CROSS JOIN z
    ),
    hashed AS (
      SELECT d.source, d.doc_id,
             {_BUCKET4} AS bucket
      FROM (SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents) d
    )
    SELECT r.source, r.n_docs,
           CAST(r.thresh AS BIGINT) AS thresh,
           CAST(sum(CASE WHEN hd.bucket < r.thresh THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           CAST(sum(CASE WHEN hd.bucket < r.thresh THEN hd.doc_id ELSE 0 END)
                AS BIGINT) AS sum_sampled_ids
    FROM hashed hd JOIN rates r USING (source)
    GROUP BY r.source, r.n_docs, r.thresh
    """,
)
def llm_quota_sample_by_source(spark, sf_dir):
    """Deterministic quota sampling by source: a ~30% corpus budget is
    split across sources by the temperature-flattened share n^0.7
    (the llm_source_temperature_mix rule), and each source's quota
    becomes an md5-bucket threshold — membership is a pure function of
    doc_id, so the sample is reproducible across runs, engines, and
    cluster sizes, and composes with the hash train/test split. All
    threshold math is integer (rounded-pow unnorms, 16^4 buckets,
    integer division) so both engines cut at the identical bucket; the
    id-sum digest proves the exact membership set, not just counts.
    Scale shape: one grouped count (source-bounded), a broadcast of
    the per-source thresholds, one narrow filter — the corpus is
    never shuffled."""
    d = _t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.pow(F.count(F.lit(1)), 0.7)).cast("long").alias("unnorm"),
    )
    z = s.agg(F.sum("unnorm").alias("z"), F.sum("n_docs").alias("total"))
    rates = s.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(65536).cast("long"),
            F.expr("(3 * total * unnorm * 65536) DIV (10 * z * n_docs)"),
        ).alias("thresh"),
    )
    hashed = d.select("source", "doc_id", md5_bucket(F.col("doc_id"), 4).alias("bucket"))
    hit = F.col("bucket") < F.col("thresh")
    return (
        hashed.join(F.broadcast(rates), "source")
        .groupBy("source", "n_docs", "thresh")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_sampled"),
            F.sum(F.when(hit, F.col("doc_id")).otherwise(0))
            .cast("long")
            .alias("sum_sampled_ids"),
        )
    )


@register(
    "llm_embedding_norm_stats",
    """
    WITH norms AS (
      SELECT label,
             round(sqrt(list_sum(list_transform(embedding,
                                                x -> CAST(x AS DOUBLE)
                                                     * CAST(x AS DOUBLE)))), 6)
               AS nrm
      FROM embeddings
    )
    SELECT label, count(*) AS n_vecs,
           round(min(nrm), 4) AS min_norm,
           round(quantile_cont(nrm, 0.5), 4) AS p50_norm,
           round(quantile_cont(nrm, 0.95), 4) AS p95_norm,
           round(max(nrm), 4) AS max_norm,
           CAST(sum(CASE WHEN nrm < 1e-6 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero
    FROM norms GROUP BY label
    """,
)
def llm_embedding_norm_stats(spark, sf_dir):
    """Embedding hygiene stats per label: L2-norm percentiles and
    zero-vector counts — the pre-flight every ANN/similarity stage
    needs (zero vectors break cosine; a wide norm spread says the
    embeddings aren't normalized and dot-product ranking will be
    magnitude-biased). The norm is a per-row left-fold in array order
    (identical fold order in both engines, rounded to 6dp before the
    percentile so interpolation sees identical inputs); the rollup is
    label-bounded."""
    e = _t(spark, sf_dir, "embeddings")
    sq = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    nrm = F.round(
        F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)), 6
    ).alias("nrm")
    norms = e.select("label", nrm)
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.percentile("nrm", F.lit(0.5)), 4).alias("p50_norm"),
        F.round(F.percentile("nrm", F.lit(0.95)), 4).alias("p95_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
        F.sum((F.col("nrm") < 1e-6).cast("int")).cast("long").alias("n_zero"),
    )


@register(
    "llm_zipf_topk_terms",
    """
    WITH tc AS (
      SELECT w, count(*) AS n FROM (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents
      ) GROUP BY w
    ),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM tc)
    SELECT CAST(rnk AS BIGINT) AS rnk, w AS term, n,
           round(n / total, 6) AS share,
           round(rnk * n / total, 6) AS zipf_const
    FROM (
      SELECT w, n, row_number() OVER (ORDER BY n DESC, w) AS rnk
      FROM tc
    ) CROSS JOIN tot
    WHERE rnk <= 20
    """,
)
def llm_zipf_topk_terms(spark, sf_dir):
    """Zipf calibration: the 20 most frequent corpus terms with their
    share and rank x share product (constant under Zipf's law — the
    sanity check that a corpus looks like natural language rather than
    boilerplate or generator output). One explode into a vocabulary-
    bounded count; the global top-20 is orderBy+limit — compiled to a
    distributed TakeOrderedAndProject (per-partition partial top-k),
    NOT a rank window, which would funnel the whole vocabulary through
    one partition; row_number then ranks only the 20 survivors; share
    denominators ride a 1-row broadcast."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    tc = (
        d.select(F.explode(words_col(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = tc.agg(F.sum("n").cast("double").alias("total"))
    ranked = (
        tc.orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(20)
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("w").asc())),
        )
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        F.col("rnk").cast("long").alias("rnk"),
        F.col("w").alias("term"),
        "n",
        F.round(F.col("n") / F.col("total"), 6).alias("share"),
        F.round(F.col("rnk") * F.col("n") / F.col("total"), 6).alias("zipf_const"),
    )


@register(
    "llm_url_domain_stats",
    """
    WITH urls AS (
      SELECT doc_id, n_chars,
             concat('https://', source, '.example-', lang, '.org/docs/',
                    CAST(doc_id % 50 AS VARCHAR), '/page?ref=', lang,
                    '&sec=', CAST(doc_id % 7 AS VARCHAR)) AS url
      FROM documents
    ),
    parsed AS (
      SELECT doc_id, n_chars,
             regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
             regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
             regexp_extract(url, '[?&]sec=([^&#]*)', 1) AS sec
      FROM urls
    )
    SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
           CAST(count(DISTINCT sec) AS BIGINT) AS n_secs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM parsed GROUP BY host
    """,
)
def llm_url_domain_stats(spark, sf_dir):
    """Per-domain corpus rollup via URL parsing — the web-crawl
    curation primitive (domain allow/deny lists, per-site quotas,
    host-level dedup keys). URLs are minted deterministically from
    document attributes (the testdata has no URL column), then parsed
    with Spark's parse_url(HOST/PATH/QUERY-param) — JVM-side, codegen-
    friendly, no UDF; the oracle parses the same URLs with the
    equivalent anchored regexes (DuckDB has no parse_url). The rollup
    is one partial-aggregable groupBy on host."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example-"),
        F.col("lang"),
        F.lit(".org/docs/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("/page?ref="),
        F.col("lang"),
        F.lit("&sec="),
        (F.col("doc_id") % 7).cast("string"),
    )
    parsed = d.select(
        "n_chars",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("sec")).alias("sec"),
    )
    return parsed.groupBy("host").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("path").alias("n_paths"),
        F.countDistinct("sec").alias("n_secs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "llm_semdedup_prune",
    """
    WITH bb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
                + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
                + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END) AS INTEGER) AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS s
      FROM bb a JOIN bb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    thresholds AS (SELECT CAST(thr AS DOUBLE) AS thr
                   FROM (VALUES (0.30), (0.35), (0.40)) t(thr)),
    dropped AS (
      SELECT t.thr, p.idb AS vec
      FROM pairs p CROSS JOIN thresholds t
      WHERE p.s > t.thr
      GROUP BY t.thr, p.idb
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(vec_id) AS BIGINT) AS sum_ids
      FROM embeddings
    )
    SELECT t.thr AS threshold,
           tot.n_total,
           CAST(coalesce(count(d.vec), 0) AS BIGINT) AS n_dropped,
           tot.n_total - CAST(coalesce(count(d.vec), 0) AS BIGINT) AS n_kept,
           tot.sum_ids - CAST(coalesce(sum(d.vec), 0) AS BIGINT) AS sum_kept_ids
    FROM thresholds t CROSS JOIN tot LEFT JOIN dropped d ON d.thr = t.thr
    GROUP BY t.thr, tot.n_total, tot.sum_ids
    """,
)
def llm_semdedup_prune(spark, sf_dir):
    """SemDeDup-style semantic pruning: within each sign-LSH candidate
    bucket, drop every vector that has a LOWER-id neighbor above the
    cosine threshold (keep-first representative selection — the
    deterministic analog of the paper's keep-one-per-group), swept at
    three thresholds off ONE scored pair table. Candidates come from
    the same bucketing as llm_embedding_neardup (1/16th of the pair
    space); the sweep is a threshold cross join against the bounded
    pair set, never against the corpus, and retention is digested
    exactly (count + id-sum of keepers). Similarities are rounded 1e-6
    BEFORE thresholding so the keep/drop cut is engine-invariant.
    Per-vector norms are precomputed ONCE in the base projection and
    ride the join — recomputing norm(a)/norm(b) inside the pair
    expression re-folds 2 of the 3 64-element aggregates per pair and
    measured 2.4x slower at sf0.1; same floats either way (sqrt of the
    identical in-order dot), so the oracle is unchanged."""
    from ..llm.similarity import _as_double, dot, norm, sign_bucket

    e = _t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        sign_bucket(F.col("embedding"), [1, 9, 17, 25]).alias("bucket"),
    ).withColumn("nrm", norm(F.col("v")))
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("b.vec_id").alias("idb"),
        F.round(
            dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 6
        ).alias("s"),
    )
    thresholds = spark.range(1).select(
        F.explode(F.array(F.lit(0.30), F.lit(0.35), F.lit(0.40))).alias("thr")
    )
    dropped = (
        pairs.crossJoin(F.broadcast(thresholds))
        .filter(F.col("s") > F.col("thr"))
        .select("thr", "idb")
        .distinct()
    )
    tot = e.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum("vec_id").cast("long").alias("sum_ids"),
    )
    agg = dropped.groupBy("thr").agg(
        F.count("*").cast("long").alias("n_dropped_raw"),
        F.sum("idb").cast("long").alias("sum_dropped_raw"),
    )
    return (
        thresholds.join(agg, "thr", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("thr").alias("threshold"),
            "n_total",
            F.coalesce(F.col("n_dropped_raw"), F.lit(0)).cast("long").alias("n_dropped"),
            (F.col("n_total") - F.coalesce(F.col("n_dropped_raw"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
            (F.col("sum_ids") - F.coalesce(F.col("sum_dropped_raw"), F.lit(0)))
            .cast("long")
            .alias("sum_kept_ids"),
        )
    )


@register(
    "llm_multimodal_audio_energy",
    """
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
    samples AS (
      SELECT doc_id, gs.i AS i,
             CAST(((doc_id * 7919 + gs.i * 104729) % 4096) - 2048 AS DOUBLE) AS s
      FROM ids CROSS JOIN generate_series(0, 255) gs(i)
    )
    SELECT doc_id, CAST(i // 16 AS BIGINT) AS win,
           round(sqrt(avg(s * s)), 6) AS rms
    FROM samples GROUP BY doc_id, i // 16
    """,
)
def llm_multimodal_audio_energy(spark, sf_dir):
    """Audio-style multimodal processing with an EXACT oracle and no
    codec gate: 256 int16 PCM samples per asset are minted
    deterministically, packed to little-endian bytes in one Arrow
    mapInPandas batch (numpy int16 tobytes), then a second mapInPandas
    reinterprets the raw bytes (np.frombuffer) and computes per-16-
    sample-window RMS energy — the VAD/silence-trim feature shape of
    an audio curation pipeline. Both stages are narrow (no shuffle),
    batch-vectorized, and schema-typed (BinaryType in, flat frame
    out); the oracle recomputes the identical windows from the minting
    formula. Complements llm_multimodal_framesample (video) and the
    gated decode stub: here the BYTE PATH itself is proven
    end-to-end."""
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select("doc_id")

    def pack(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            out = []
            for did in ids:
                i = np.arange(256, dtype=np.int64)
                s = ((did * 7919 + i * 104729) % 4096 - 2048).astype("<i2")
                out.append(s.tobytes())
            yield pd.DataFrame({"doc_id": ids, "pcm": out})

    assets = d.mapInPandas(pack, "doc_id long, pcm binary")

    def rms(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows_id, rows_win, rows_rms = [], [], []
            for did, blob in zip(pdf["doc_id"], pdf["pcm"]):
                s = np.frombuffer(blob, dtype="<i2").astype(np.float64)
                w = s.reshape(-1, 16)
                e = np.sqrt((w * w).mean(axis=1))
                rows_id.extend([did] * w.shape[0])
                rows_win.extend(range(w.shape[0]))
                rows_rms.extend(np.round(e, 6))
            yield pd.DataFrame({"doc_id": rows_id, "win": rows_win, "rms": rows_rms})

    return assets.mapInPandas(rms, "doc_id long, win long, rms double")


# =========================================================================
# LLM-data toolkit: weighted sampling + feature hashing
# =========================================================================

_WS_BUCKET = hex_bucket_sql("md5(CAST(doc_id AS VARCHAR))", 7)


@register(
    "llm_weighted_sample",
    f"""
    SELECT doc_id, n_chars,
           round(ln(({_WS_BUCKET} + 1) / 268435456.0)
                 / greatest(n_chars, 1), 12) + 0 AS wkey
    FROM documents
    ORDER BY wkey DESC, doc_id LIMIT 200
    """,
)
def llm_weighted_sample(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    A-Res), length-proportional: each doc draws the deterministic
    uniform u = (md5_bucket(doc_id, 7)+1) / 2^28 and ranks by
    ln(u)/weight descending — the top-k under this key is an exact
    weighted sample, the primitive behind importance-weighted corpus
    mixing. RNG-free: u is a pure function of doc_id, so the sample is
    reproducible across runs, engines, and cluster sizes (and 2^28 is a
    power of two, so u itself is exact). The key is rounded to 1e-12
    (~1000x above cross-engine ln() ulp noise) with a doc_id tiebreak.
    Scale shape: narrow projection + TakeOrderedAndProject (per-partition
    top-k heaps, driver merges k*partitions rows) — no global sort, no
    shuffle of the corpus."""
    d = _t(spark, sf_dir, "documents")
    u = (md5_bucket(F.col("doc_id"), 7) + 1) / F.lit(268435456.0)
    wkey = F.round(F.log(u) / F.greatest(F.col("n_chars"), F.lit(1)), 12) + 0
    return (
        d.select("doc_id", "n_chars", wkey.alias("wkey"))
        .orderBy(F.col("wkey").desc(), "doc_id")
        .limit(200)
    )


@register(
    "llm_hashed_features",
    """
    WITH words AS (
      SELECT source,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ),
    b AS (
      SELECT source,
             (strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) AS bucket,
             count(*) AS n_tokens
      FROM words GROUP BY 1, 2
    )
    SELECT source, CAST(bucket AS BIGINT) AS bucket,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(n_tokens / CAST(sum(n_tokens) OVER (PARTITION BY source)
                                 AS DOUBLE), 6) + 0 AS share
    FROM b
    """,
)
def llm_hashed_features(spark, sf_dir):
    """Hashing-trick featurizer (the fixed-width bag-of-words every
    scalable text classifier uses instead of a vocabulary dictionary):
    tokens map to one of 256 md5 buckets, giving a per-source hashed
    term-frequency vector with no global vocab build, no OOV, and a
    schema that never changes as the corpus grows. Scale shape: one
    Generate (explode) linear in tokens, one partial-aggregable
    groupBy on (source, bucket) — the map-side combine collapses to at
    most 256 rows per source per task — and a share window on the
    already-tiny result. The dictionary-free property is the point at
    100 TB: no driver-side vocabulary, no second pass."""
    d = _t(spark, sf_dir, "documents")
    w = d.select("source", F.explode(words_col(F.col("text"))).alias("w"))
    b = w.groupBy(
        "source", md5_bucket(F.col("w"), 2).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    win = Window.partitionBy("source")
    return b.select(
        "source",
        "bucket",
        "n_tokens",
        (
            F.round(F.col("n_tokens") / F.sum("n_tokens").over(win).cast("double"), 6)
            + 0
        ).alias("share"),
    )


# --- BPE tokenizer induction: the ITERATE step (merge -> re-pair) -----------


@register(
    "llm_bpe_merge_iterate",
    """
    WITH RECURSIVE ws AS (
      SELECT row_number() OVER () AS did,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    p1 AS (
      SELECT ws[i] AS a, ws[i + 1] AS b
      FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
            FROM ws WHERE len(ws) > 1)
    ),
    m1 AS (
      SELECT a, b, a || '_' || b AS m
      FROM (SELECT a, b, count(*) AS n FROM p1 GROUP BY a, b
            ORDER BY n DESC, a ASC, b ASC LIMIT 1)
    ),
    walk AS (
      SELECT did, 0 AS i, CAST([] AS VARCHAR[]) AS acc FROM ws
      UNION ALL
      SELECT w.did, walk.i + 1,
             CASE WHEN len(walk.acc) > 0
                       AND walk.acc[len(walk.acc)] = m1.a
                       AND w.ws[walk.i + 1] = m1.b
                  THEN walk.acc[1:len(walk.acc) - 1] || [m1.m]
                  ELSE walk.acc || [w.ws[walk.i + 1]] END
      FROM walk JOIN ws w ON w.did = walk.did CROSS JOIN m1
      WHERE walk.i < len(w.ws)
    ),
    merged AS (
      SELECT walk.did, walk.acc
      FROM walk JOIN ws ON ws.did = walk.did
      WHERE walk.i = len(ws.ws)
    ),
    p2 AS (
      SELECT acc[i] || ' ' || acc[i + 1] AS pair
      FROM (SELECT acc, unnest(generate_series(1, len(acc) - 1)) AS i
            FROM merged WHERE len(acc) > 1)
    )
    SELECT pair, count(*) AS n
    FROM p2 GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT 10
    """,
)
def llm_bpe_merge_iterate(spark, sf_dir):
    """BPE tokenizer induction, the ITERATE step llm_bpe_merge_step
    stops short of: pick the top adjacent pair (count desc, pair-text
    tiebreak), APPLY the merge to every symbol sequence (greedy
    left-to-right non-overlapping — the fold keeps the merged token
    only when the accumulator's last symbol is exactly `a`, so a
    freshly merged token never double-merges), then recount adjacent
    pairs and emit the next top-10 — the trainer's inner loop, one
    full round. Spark applies the merge as a per-row array aggregate()
    fold (narrow, no shuffle); the pair counts are the same
    zip_with-shifted-slices Generate as the first-step entry, so each
    round costs ONE (pair, partial-count) shuffle — at 100 TB a K-merge
    trainer is K narrow passes + K sketch-sized shuffles over
    sequences that SHRINK every round. The oracle replays the fold as
    a per-document recursive CTE (token-bounded recursion). Reference
    analog: none."""
    d = _t(spark, sf_dir, "documents")
    from ..llm.textstats import words_col

    ws = words_col(F.col("text"))
    n = F.size(ws)
    pair_a = F.explode(
        F.zip_with(
            F.slice(ws, 1, n - 1),
            F.slice(ws, 2, n - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        )
    )
    m1 = (
        d.filter(n > 1)
        .select(pair_a.alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(1)
        .select("a", "b", F.concat("a", F.lit("_"), "b").alias("m"))
    )
    applied = d.select(ws.alias("ws")).crossJoin(F.broadcast(m1)).select(
        F.expr(
            """
            aggregate(
              ws,
              CAST(array() AS ARRAY<STRING>),
              (acc, c) -> CASE
                WHEN size(acc) > 0 AND element_at(acc, -1) = a AND c = b
                THEN array_append(slice(acc, 1, size(acc) - 1), m)
                ELSE array_append(acc, c) END
            ) AS acc
            """
        )
    )
    an = F.size(F.col("acc"))
    pairs2 = F.zip_with(
        F.slice(F.col("acc"), 1, an - 1),
        F.slice(F.col("acc"), 2, an - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        applied.filter(an > 1)
        .select(F.explode(pairs2).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(10)
    )


# --- URL canonicalization dedup ----------------------------------------------

_RAW_URL_DUCK = """
      concat(
        CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END,
        source, '.example-', lang, '.org',
        CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END,
        '/docs/', CAST(doc_id % 50 AS VARCHAR),
        CASE WHEN doc_id % 5 = 4 THEN '/'
             WHEN doc_id % 2 = 0
               THEN concat('?utm_source=feed&ref=', lang, '&id=',
                           CAST(doc_id % 25 AS VARCHAR))
             ELSE concat('?ref=', lang, '&id=', CAST(doc_id % 25 AS VARCHAR))
        END,
        CASE WHEN doc_id % 4 = 1 THEN '#frag' ELSE '' END)
"""


@register(
    "llm_url_canonicalize",
    f"""
    WITH raw AS (SELECT doc_id, {_RAW_URL_DUCK} AS url FROM documents),
    canon AS (
      SELECT doc_id, url,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   replace(replace(lower(url), ':443/', '/'),
                           'https://www.', 'https://'),
                   '#.*$', ''),
                 '[?].*&id=', '?id='),
               '/$', '') AS curl
      FROM raw
    )
    SELECT curl, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
    FROM canon GROUP BY curl
    """,
)
def llm_url_canonicalize(spark, sf_dir):
    """URL canonicalization dedup — the first normalization pass of a
    web-crawl pipeline: lowercase scheme/host, strip the :443 default
    port, the www. prefix, fragments, tracking params (utm_*/ref,
    keeping the content-bearing id), and trailing slashes, then group
    raw crawl URLs by canonical key (n_docs, raw-variant count,
    keep-first doc). Raw URLs are minted deterministically from
    document attributes with injected mess (mixed case, ports,
    fragments, tracking params — the llm_url_domain_stats minting
    doctrine, testdata has no URL column). The normalization chain is
    plain lower/replace plus three backreference-FREE regexes (Java
    and RE2 agree on these), applied identically in both engines.
    Scale shape: narrow per-row projection then one partial-aggregable
    groupBy; the canonical key space is construction-bounded, and in a
    real crawl this groupBy IS the dedup shuffle — keyed on the
    canonical url, never on page content. Reference analog: none."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://WWW.")).otherwise(
            F.lit("https://")
        ),
        F.col("source"),
        F.lit(".example-"),
        F.col("lang"),
        F.lit(".org"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 5 == 4, F.lit("/"))
        .when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("?utm_source=feed&ref="),
                F.col("lang"),
                F.lit("&id="),
                (F.col("doc_id") % 25).cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("?ref="),
                F.col("lang"),
                F.lit("&id="),
                (F.col("doc_id") % 25).cast("string"),
            )
        ),
        F.when(F.col("doc_id") % 4 == 1, F.lit("#frag")).otherwise(F.lit("")),
    )
    raw = d.select("doc_id", url.alias("url"))
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.replace(
                    F.replace(F.lower(F.col("url")), F.lit(":443/"), F.lit("/")),
                    F.lit("https://www."),
                    F.lit("https://"),
                ),
                "#.*$",
                "",
            ),
            "[?].*&id=",
            "?id=",
        ),
        "/$",
        "",
    )
    canon = raw.select("doc_id", "url", curl.alias("curl"))
    return canon.groupBy("curl").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("url").cast("long").alias("n_raw_variants"),
        F.min("doc_id").cast("long").alias("keeper_doc_id"),
    )


@register(
    "llm_code_detect",
    """
    WITH f AS (
      SELECT source, lang, n_chars,
             length(text) - length(replace(text, ';', '')) AS n_semi,
             length(text) - length(replace(text, '{', ''))
               + length(text) - length(replace(text, '}', '')) AS n_brace,
             length(text) - length(replace(text, '=', '')) AS n_eq
      FROM documents
    ),
    s AS (
      SELECT source, lang,
             CASE WHEN (n_semi * 3 + n_brace * 4 + n_eq * 2) * 1000
                       >= n_chars * 8 THEN 1 ELSE 0 END AS is_code
      FROM f
    )
    SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_code) AS BIGINT) AS n_code,
           CAST(sum(is_code) AS DOUBLE) / count(*) + 0 AS code_rate
    FROM s GROUP BY source, lang
    """,
)
def llm_code_detect(spark, sf_dir):
    """Code-vs-prose detection — the routing screen an LLM data
    pipeline runs before language-specific cleaning/tokenization:
    weighted symbol densities (semicolons x3, braces x4, equals x2,
    per kilochar) against an integer threshold, rolled up per
    (source, lang). The classifier is ALL-integer arithmetic
    (char-class counts via length-difference, the llm_quality_score
    technique; the threshold comparison is cross-multiplied so no
    division happens at all); the only double is the final rate — one
    integer division. One narrow projection + one partial-aggregable
    groupBy: at 100 TB this is a single scan with no shuffle beyond
    the tiny (source, lang) rollup. Reference analog: none."""
    d = _t(spark, sf_dir, "documents")
    ln = F.length("text")

    def _cnt(ch):
        return ln - F.length(F.expr(f"replace(text, '{ch}', '')"))

    f = d.select(
        "source",
        "lang",
        "n_chars",
        _cnt(";").alias("n_semi"),
        (_cnt("{") + _cnt("}")).alias("n_brace"),
        _cnt("=").alias("n_eq"),
    )
    s = f.select(
        "source",
        "lang",
        (
            (F.col("n_semi") * 3 + F.col("n_brace") * 4 + F.col("n_eq") * 2)
            * 1000
            >= F.col("n_chars") * 8
        )
        .cast("int")
        .alias("is_code"),
    )
    return s.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("is_code").cast("long").alias("n_code"),
        (F.sum("is_code").cast("double") / F.count(F.lit(1)) + 0).alias(
            "code_rate"
        ),
    )


@register(
    "llm_embedding_outliers",
    """
    WITH base AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent AS (
      SELECT label, list(mv ORDER BY pos) AS cv FROM (
        SELECT label, pos, round(avg(v), 4) AS mv FROM (
          SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings
        ) GROUP BY label, pos
      ) GROUP BY label
    ),
    scored AS (
      SELECT b.vec_id, b.label,
             list_dot_product(b.v, b.v)
               - 2 * list_dot_product(b.v, c.cv)
               + list_dot_product(c.cv, c.cv) AS dist2
      FROM base b JOIN cent c USING (label)
    ),
    rn AS (
      SELECT label, vec_id, dist2,
             row_number() OVER (PARTITION BY label
                                ORDER BY dist2 DESC, vec_id) AS r
      FROM scored
    )
    SELECT label, vec_id, dist2 + 0 AS dist2 FROM rn WHERE r <= 5
    """,
)
def llm_embedding_outliers(spark, sf_dir):
    """Per-label embedding outliers: the 5 vectors farthest (squared
    L2) from their label centroid — the mislabeled-example /
    dirty-cluster screen a curation pipeline runs after embedding
    (SemDeDup's inverse: find what does NOT belong). Centroids are
    elementwise means rounded to 4dp (the llm_embedding_centroids
    doctrine — decouples them from float partial-sum order) and join
    back BROADCAST (|labels| rows); dist2 expands as dot(v,v) -
    2*dot(v,c) + dot(c,c), where both engines fold the dot products
    left-to-right over the same arrays (the llm_cosine_topk parity
    pair), so the unrounded doubles match and the per-label top-5
    carries a (dist2 DESC, vec_id) total order. Scale shape: the
    corpus is scanned once and never shuffled on content — the only
    exchanges are the dim-keyed centroid rollup and the final
    per-label top-5 window on |labels| partitions. Reference analog:
    none."""
    e = _t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cent = (
        base.select(
            "label", F.posexplode("v").alias("pos", "val")
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 4).alias("mv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda s: s.getField("mv"),
            ).alias("cv")
        )
    )
    dot = "aggregate(zip_with({0}, {1}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
    scored = base.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.expr(
            f"{dot.format('v', 'v')} - 2 * {dot.format('v', 'cv')} "
            f"+ {dot.format('cv', 'cv')}"
        ).alias("dist2"),
    )
    w = Window.partitionBy("label").orderBy(F.col("dist2").desc(), "vec_id")
    return (
        scored.select("label", "vec_id", "dist2", F.row_number().over(w).alias("r"))
        .filter(F.col("r") <= 5)
        .select("label", "vec_id", (F.col("dist2") + 0).alias("dist2"))
    )


_MMR_LAMBDA = 0.7


_MMR_K = 5


_MMR_CAND = 20


def _mmr_oracle() -> str:
    cos = (
        "round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv))"
        " * sqrt(list_dot_product(v, v))), 4)"
    )
    paircos = (
        "round(list_dot_product(c.v, s.v) / (sqrt(list_dot_product(c.v, c.v))"
        " * sqrt(list_dot_product(s.v, s.v))), 4)"
    )
    ctes = [
        "base AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "q AS (SELECT v AS qv FROM base WHERE vec_id = 0)",
        f"""cand AS MATERIALIZED (
      SELECT vec_id, v, simq FROM (
        SELECT vec_id, v, {cos} AS simq,
               row_number() OVER (ORDER BY {cos} DESC, vec_id) AS rnk
        FROM base, q WHERE vec_id <> 0
      ) WHERE rnk <= {_MMR_CAND}
    )""",
        """s1 AS MATERIALIZED (
      SELECT 1 AS rank, vec_id, v, simq FROM cand
      ORDER BY simq DESC, vec_id LIMIT 1
    )""",
    ]
    for k in range(2, _MMR_K + 1):
        sel = " UNION ALL ".join(f"SELECT * FROM s{j}" for j in range(1, k))
        ctes.append(
            f"""s{k} AS MATERIALIZED (
      SELECT rank, vec_id, v, simq FROM (
        SELECT {k} AS rank, c.vec_id, c.v, c.simq,
               {_MMR_LAMBDA} * c.simq
                 - {round(1 - _MMR_LAMBDA, 10)} * (
                     SELECT max({paircos}) FROM ({sel}) s
                   ) AS score
        FROM cand c
        WHERE c.vec_id NOT IN (SELECT vec_id FROM ({sel}))
      ) ORDER BY score DESC, vec_id
      LIMIT 1
    )"""
        )
    allsel = " UNION ALL ".join(f"SELECT * FROM s{j}" for j in range(1, _MMR_K + 1))
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(rank AS BIGINT) AS rank, vec_id, simq AS sim_to_query
    FROM ({allsel}) ORDER BY rank"""
    )


@register("llm_mmr_rerank", _mmr_oracle())
def llm_mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance re-rank: greedy top-5 selection from
    the cosine top-20 candidates of query vec_id=0, score =
    0.7*sim(q,c) - 0.3*max_{s in selected} sim(c,s) — the
    diversity-aware retrieval layer (Carbonell & Goldstein 1998) an
    LLM pipeline runs between ANN recall and context packing.
    Exactness: all similarities live on the proven 4dp cosine grid,
    each greedy argmax carries a TOTAL (score DESC, vec_id) order,
    and both engines unroll the SAME 5 steps. Scale: the corpus is
    touched ONCE (the brute-force top-20, itself replaceable by the
    ANN path); every MMR step runs on the <=20-row candidate panel —
    driver-sized by construction, like the SemDeDup threshold sweep.
    Reference analog: none (extends llm_cosine_topk)."""
    base = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = base.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cosq = F.round(
        dot(F.col("qv"), F.col("v"))
        / (F.sqrt(dot(F.col("qv"), F.col("qv"))) * F.sqrt(dot(F.col("v"), F.col("v")))),
        4,
    )
    cand, _cand_ids = checkpoint_rotate(
        base.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "v", cosq.alias("simq"))
        .orderBy(F.desc("simq"), F.asc("vec_id"))
        .limit(_MMR_CAND)
    )
    sel, sel_ids = checkpoint_rotate(
        cand.orderBy(F.desc("simq"), F.asc("vec_id"))
        .limit(1)
        .select(F.lit(1).alias("rank"), "vec_id", "v", "simq")
    )
    paircos = F.round(
        dot(F.col("c.v"), F.col("s.v"))
        / (
            F.sqrt(dot(F.col("c.v"), F.col("c.v")))
            * F.sqrt(dot(F.col("s.v"), F.col("s.v")))
        ),
        4,
    )
    for k in range(2, _MMR_K + 1):
        remaining = cand.join(sel.select("vec_id"), "vec_id", "left_anti")
        maxsim = (
            remaining.alias("c")
            .crossJoin(sel.alias("s"))
            .groupBy(F.col("c.vec_id").alias("vec_id"))
            .agg(F.max(paircos).alias("max_sel"))
        )
        nxt = (
            remaining.join(maxsim, "vec_id")
            .select(
                F.lit(k).alias("rank"),
                "vec_id",
                "v",
                "simq",
                (
                    F.lit(_MMR_LAMBDA) * F.col("simq")
                    - F.lit(round(1 - _MMR_LAMBDA, 10)) * F.col("max_sel")
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(1)
            .select("rank", "vec_id", "v", "simq")
        )
        # each greedy step's panel supersedes the previous one —
        # rotate its blocks out (operators/ckpt.py); cand stays, the
        # next step's anti-join still reads it
        sel, sel_ids = checkpoint_rotate(sel.unionAll(nxt), retire=sel_ids)
    retire_ids(spark, _cand_ids)  # last anti-join is done
    return sel.select(
        F.col("rank").cast("long").alias("rank"),
        "vec_id",
        F.col("simq").alias("sim_to_query"),
    ).orderBy("rank")


@register(
    "llm_readability_flesch",
    """
    WITH d AS (
      SELECT source,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS words,
             CAST(greatest(1, length(text)
                  - length(replace(replace(replace(text, '.', ''),
                                           '!', ''), '?', ''))) AS BIGINT)
               AS sentences,
             CAST(length(regexp_replace(lower(text), '[aeiouy]+', '~', 'g'))
                  - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g'))
                  AS BIGINT) AS syllables
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(words) AS BIGINT) AS words,
           CAST(sum(sentences) AS BIGINT) AS sentences,
           CAST(sum(syllables) AS BIGINT) AS syllables,
           206.835
             - 1.015 * (CAST(sum(words) AS DOUBLE) / sum(sentences))
             - 84.6 * (CAST(sum(syllables) AS DOUBLE) / sum(words))
             AS flesch
    FROM d GROUP BY source ORDER BY source
    """,
)
def llm_readability_flesch(spark, sf_dir):
    """Flesch reading-ease per corpus source, with the vowel-group
    syllable heuristic (a maximal [aeiouy]+ run ~ one syllable) — the
    readability screen next to llm_quality_score. Per-document word /
    sentence / syllable-group counts are exact integers (the group
    count is the length delta between collapsing runs to one char and
    deleting them); they sum per source exactly, and the score is ONE
    IEEE formula over the summed integers — never an average of
    per-document floats, so there is no order-dependent float sum
    anywhere. Scale: one scan, partial-aggregable per-source rollup;
    regex work is JVM-side codegen. Reference analog: none (extends
    llm_quality_score / llm_char_entropy)."""
    t = F.col("text")
    words = F.size(
        F.filter(F.split(t, " "), lambda x: x != F.lit(""))
    ).cast("long")
    # literal (non-regex) replace on BOTH engines — same builtin name,
    # same semantics, no regex-dialect risk
    sentences = F.greatest(
        F.lit(1),
        F.length(t)
        - F.length(F.expr("replace(replace(replace(text, '.', ''), '!', ''), '?', '')")),
    ).cast("long")
    syllables = (
        F.length(F.regexp_replace(F.lower(t), "[aeiouy]+", "~"))
        - F.length(F.regexp_replace(F.lower(t), "[aeiouy]+", ""))
    ).cast("long")
    d = _t(spark, sf_dir, "documents").select(
        "source",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("words").cast("long").alias("words"),
            F.sum("sentences").cast("long").alias("sentences"),
            F.sum("syllables").cast("long").alias("syllables"),
            (
                F.lit(206.835)
                - F.lit(1.015) * (F.sum("words").cast("double") / F.sum("sentences"))
                - F.lit(84.6) * (F.sum("syllables").cast("double") / F.sum("words"))
            ).alias("flesch"),
        )
        .orderBy("source")
    )


# RAKE phrase breakers: EN stopwords (the llm_language_id list) or any
# token that is not a pure lowercase-alpha run.
_RAKE_STOPS = ts.STOPWORDS["en"]


_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in _RAKE_STOPS) + "]"


_MAX_PHRASE = 4


@register(
    "llm_keyword_rake",
    f"""
    WITH words AS (
      SELECT doc_id, lower(w) AS w, pos FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
               generate_subscripts(list_filter(string_split(text, ' '),
                                               x -> x <> ''), 1) AS pos
        FROM documents
      )
    ),
    flagged AS (
      SELECT doc_id, w, pos,
             CASE WHEN list_contains({_STOP_SQL}, w)
                       OR NOT regexp_full_match(w, '[a-z]+')
                  THEN 1 ELSE 0 END AS brk
      FROM words
    ),
    seg AS (
      SELECT doc_id, w, pos, brk,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      FROM flagged
    ),
    pw AS (SELECT doc_id, seg_id, w, pos FROM seg WHERE brk = 0),
    plen AS (
      SELECT doc_id, seg_id, CAST(count(*) AS BIGINT) AS n_words
      FROM pw GROUP BY doc_id, seg_id
      HAVING count(*) <= {_MAX_PHRASE}
    ),
    member AS (
      SELECT p.doc_id, p.seg_id, p.w, p.pos, l.n_words
      FROM pw p JOIN plen l ON p.doc_id = l.doc_id AND p.seg_id = l.seg_id
    ),
    wstat AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(n_words) AS BIGINT) AS degree
      FROM member GROUP BY w
    ),
    scored AS (
      SELECT m.doc_id, m.seg_id, m.pos,
             CAST(s.degree AS DOUBLE) / s.freq AS wscore
      FROM member m JOIN wstat s ON m.w = s.w
    ),
    folded AS (
      SELECT doc_id, seg_id,
             sum(wscore) OVER (PARTITION BY doc_id, seg_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS score,
             row_number() OVER (PARTITION BY doc_id, seg_id
                                ORDER BY pos DESC) AS rn_last
      FROM scored
    ),
    ptext AS (
      SELECT doc_id, seg_id, string_agg(w, ' ' ORDER BY pos) AS phrase
      FROM member GROUP BY doc_id, seg_id
    ),
    phrases AS (
      SELECT t.phrase, f.score
      FROM folded f JOIN ptext t
        ON f.doc_id = t.doc_id AND f.seg_id = t.seg_id
      WHERE f.rn_last = 1
    )
    SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
           min(score) AS rake_score
    FROM phrases
    GROUP BY phrase
    ORDER BY min(score) DESC, phrase
    LIMIT 15
    """,
)
def llm_keyword_rake(spark, sf_dir):
    """RAKE (Rapid Automatic Keyword Extraction): candidate phrases
    are maximal runs of non-stopword, pure-alpha tokens (phrase
    boundaries via a conditional-cumsum segment id — the
    ext_conditional_reset_cumsum pattern); word score = degree/freq
    over all phrase memberships; a phrase scores the SUM of its word
    scores, folded in POSITION order (the sequential-fold doctrine,
    so the float sum has one tree on both engines); corpus top-15
    under a total (score DESC, phrase) order. Identical phrases score
    identically by construction, so min(score) == max(score) per
    group — min() is just the deterministic pick.
    r14 session 2 (guide §2.3/§2.4 — aggregate before you shuffle):
    segmentation now runs IN-ROW with higher-order functions, so no
    token-level row ever reaches an exchange. Break tokens are
    rewritten to a control-char sentinel, the token array is joined
    and re-split on it, and each piece IS a phrase occurrence —
    collision-free by construction because every non-break token
    matches ^[a-z]+$ and so can never contain the sentinel. The old
    shape shuffled all O(tokens) rows into a per-doc window for the
    conditional-cumsum seg_id (the r9-r13 lineage: SCALE.md §Round-9 RAKE:
    2.03s -> 1.56s had already removed two of its three token-level
    passes). Downstream, everything is phrase-keyed: occurrences
    group straight to (phrase, n), word stats explode the DISTINCT
    phrase table with occurrence multiplicities (freq = sum(n),
    degree = sum(n * n_words) — the same per-membership counts), and
    the position-ordered fold runs once per distinct phrase (every
    occurrence folds identically, exactly why min() was already just
    a pick). A/B at sf0.1: 1.014 -> 0.610 s min over 5 interleaved
    reps, every rep pairwise faster; top-15 rows bit-identical
    (rake_score compared by IEEE bit pattern) at all three SFs.
    Scale: one in-row pass (O(tokens) work, zero token shuffles),
    phrase- and vocabulary-bounded exchanges only. The wstat join
    stays unhinted: AQE picks broadcast at runtime while the
    vocabulary is small but degrades to a shuffle join instead of
    OOMing if real text blows past the threshold (ADVICE r9).
    Reference analog: none (extends llm_tfidf_topk_terms with
    phrase-level extraction)."""
    sent = "\x01"
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    low = F.transform(toks, lambda x: F.lower(x))
    mapped = F.transform(
        low,
        lambda w: F.when(
            w.isin(*_RAKE_STOPS) | ~w.rlike("^[a-z]+$"), F.lit(sent)
        ).otherwise(w),
    )
    phrases_arr = F.filter(
        F.transform(
            F.split(F.array_join(mapped, " "), sent), lambda p: F.trim(p)
        ),
        lambda p: p != F.lit(""),
    )
    occ = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(phrases_arr).alias("phrase"))
        .where(F.size(F.split(F.col("phrase"), " ")) <= _MAX_PHRASE)
    )
    counts = occ.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    pw = counts.select(
        "phrase",
        "n_occurrences",
        F.posexplode(F.split(F.col("phrase"), " ")).alias("i", "w"),
        F.size(F.split(F.col("phrase"), " ")).alias("n_words"),
    )
    wstat = pw.groupBy("w").agg(
        F.sum("n_occurrences").cast("long").alias("freq"),
        F.sum(F.col("n_occurrences") * F.col("n_words"))
        .cast("long")
        .alias("degree"),
    )
    scored = (
        pw.join(wstat, "w")
        .groupBy("phrase")
        .agg(
            F.min("n_occurrences").alias("n_occurrences"),
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "i",
                        (F.col("degree").cast("double") / F.col("freq")).alias(
                            "wscore"
                        ),
                    )
                )
            ).alias("sws"),
        )
        .select(
            "phrase",
            "n_occurrences",
            F.aggregate(
                F.col("sws"), F.lit(0.0), lambda acc, s: acc + s["wscore"]
            ).alias("rake_score"),
        )
    )
    return scored.orderBy(F.desc("rake_score"), F.asc("phrase")).limit(15)


_HITS = {
    lang: (
        "len(list_intersect(list_filter(string_split(text, ' '), x -> x <> ''), "
        + "[" + ", ".join(f"'{w}'" for w in ts.STOPWORDS[lang]) + "]))"
    )
    for lang in ts.LANG_ORDER
}


_BEST = "greatest(" + ", ".join(f"hits_{l}" for l in ts.LANG_ORDER) + ")"


_PRED = (
    "CASE WHEN " + _BEST + " <= 0 THEN 'unknown' "
    + " ".join(f"WHEN hits_{l} = {_BEST} THEN '{l}'" for l in ts.LANG_ORDER)
    + " END"
)


@register(
    "llm_langid_confusion",
    f"""
    WITH pred AS (
      SELECT lang, {_PRED} AS pred_lang FROM (
        SELECT lang,
               {", ".join(f"CAST({_HITS[l]} AS INT) AS hits_{l}" for l in ts.LANG_ORDER)}
        FROM documents
      )
    ),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM pred)
    SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
           count(*) / (SELECT n FROM tot) AS share
    FROM pred GROUP BY lang, pred_lang
    ORDER BY lang, pred_lang
    """,
)
def llm_langid_confusion(spark, sf_dir):
    """Confusion matrix of the stopword-hit language-ID heuristic
    against the labeled lang column — the evaluation layer over
    llm_language_id (which emits per-doc predictions but never
    aggregates them). Cells are exact integer counts from one
    partial-aggregable scan; share is one IEEE division per cell
    against the broadcast total. The matrix is bounded by
    (|langs|+1)^2 cells at any SF. Reference analog: none (crosses
    llm_language_id with the ml_confusion_matrix shape)."""
    d = _t(spark, sf_dir, "documents").select(
        "lang", ts.predicted_lang(F.col("text")).alias("pred_lang")
    )
    tot = d.agg(F.count("*").cast("double").alias("n"))
    return (
        d.groupBy("lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            (F.col("n_docs") / F.col("n")).alias("share"),
        )
        .orderBy("lang", "pred_lang")
    )


_HEXPOS = "strpos('0123456789abcdef', substr(h, {p}, 1)) - 1"


_SPAN_LEN = 3


_MASK_BUCKETS = 13  # ~5% of 256 -> span starts; x3 length ~ 15% mask rate


@register(
    "llm_span_corruption",
    f"""
    WITH toks AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id,
               generate_subscripts(list_filter(string_split(text, ' '),
                                               x -> x <> ''), 1) AS pos
        FROM documents
      )
    ),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN (({_HEXPOS.format(p=1)}) * 16
                        + ({_HEXPOS.format(p=2)})) < {_MASK_BUCKETS}
                  THEN 1 ELSE 0 END AS is_start
      FROM (
        SELECT doc_id, pos,
               md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)) AS h
        FROM toks
      )
    ),
    masked AS (
      SELECT doc_id, pos, is_start,
             CASE WHEN max(is_start) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN {_SPAN_LEN - 1} PRECEDING AND CURRENT ROW) = 1
                  THEN 1 ELSE 0 END AS m
      FROM flagged
    ),
    runs AS (
      SELECT doc_id, pos, m,
             CASE WHEN m = 1 AND coalesce(lag(m) OVER (PARTITION BY doc_id
                    ORDER BY pos), 0) = 0 THEN 1 ELSE 0 END AS run_start
      FROM masked
    )
    SELECT CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(m) AS BIGINT) AS n_masked,
           CAST(sum(run_start) AS BIGINT) AS n_spans,
           CAST(sum(m) AS DOUBLE) / count(*) AS mask_ratio
    FROM runs
    """,
)
def llm_span_corruption(spark, sf_dir):
    """T5-style span-corruption mask generation, fully deterministic:
    a token position starts a span iff its md5(doc:pos) first byte
    falls under the ~5% threshold; spans cover {_SPAN_LEN} tokens and
    overlapping spans merge (realized mask rate ~15%). The mask test
    is a bounded-lookback window max (any span start within the last
    {_SPAN_LEN} positions); maximal masked runs are counted by the
    run-start flank (m rises 0->1) — the seq2seq denoising-objective
    prep (Raffel et al. 2020) with no RNG, so shards regenerate the
    SAME masks on any engine or cluster. Scale: one explode
    (positions only — the token text never ships), two narrow
    windows partitioned by doc, then a 4-cell aggregate. Reference
    analog: none (extends llm_chunk_documents / llm_pack_sequences
    training-prep family)."""
    w_all = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    toks = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(w_all).alias("pos0", "w0"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"))
    )
    flagged = toks.select(
        "doc_id",
        "pos",
        (
            md5_bucket(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("pos").cast("string"),
                ),
                n_digits=2,
            )
            < _MASK_BUCKETS
        )
        .cast("int")
        .alias("is_start"),
    )
    wm = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_SPAN_LEN - 1), Window.currentRow)
    )
    masked = flagged.select(
        "doc_id",
        "pos",
        (F.max("is_start").over(wm) == 1).cast("int").alias("m"),
    )
    wl = Window.partitionBy("doc_id").orderBy("pos")
    runs = masked.select(
        "m",
        (
            (F.col("m") == 1)
            & (F.coalesce(F.lag("m").over(wl), F.lit(0)) == 0)
        )
        .cast("int")
        .alias("run_start"),
    )
    return runs.agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("m").cast("long").alias("n_masked"),
        F.sum("run_start").cast("long").alias("n_spans"),
        (F.sum("m").cast("double") / F.count("*")).alias("mask_ratio"),
    )


@register(
    "llm_tokenizer_fertility",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(len(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS BIGINT)) AS BIGINT)
             AS n_words,
           CAST(sum(CAST(len(list_filter(string_split_regex(lower(text),
                                                            '[^a-z0-9]+'),
                                          x -> x <> '')) AS BIGINT)) AS BIGINT)
             AS n_subwords,
           CAST(sum(CAST(len(list_filter(string_split_regex(lower(text),
                                                            '[^a-z0-9]+'),
                                          x -> x <> '')) AS BIGINT)) AS DOUBLE)
             / sum(CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                        AS BIGINT)) AS fertility
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def llm_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility (subword pieces per whitespace word) by
    language — the multilingual-equity diagnostic: languages whose
    fertility is far above the corpus norm pay more sequence length
    per word (Rust et al. 2021). Piece counts use the alnum-run
    tokenizer (the llm_token_counts pair); word and piece counts are
    exact integers summed per language; fertility is ONE division per
    language row. Scale: one scan, partial-aggregable. Reference
    analog: none (extends llm_token_counts)."""
    t = F.col("text")
    words = F.size(F.filter(F.split(t, " "), lambda x: x != F.lit(""))).cast("long")
    subwords = F.size(
        F.filter(F.split(F.lower(t), "[^a-z0-9]+"), lambda x: x != F.lit(""))
    ).cast("long")
    d = _t(spark, sf_dir, "documents").select(
        "lang", words.alias("w"), subwords.alias("sw")
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("n_words"),
            F.sum("sw").cast("long").alias("n_subwords"),
            (F.sum("sw").cast("double") / F.sum("w")).alias("fertility"),
        )
        .orderBy("lang")
    )


@register(
    "llm_crosslingual_ngram_overlap",
    """
    WITH lg AS (
      SELECT DISTINCT lang,
             array_to_string(list_slice(ws, i, i + 2), ' ') AS shingle
      FROM (
        SELECT lang, ws,
               unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
        FROM (
          SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS ws
          FROM documents
        )
      )
    ),
    sizes AS (SELECT lang, CAST(count(*) AS BIGINT) AS sz FROM lg GROUP BY lang),
    inter AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM lg a JOIN lg b ON a.shingle = b.shingle AND a.lang < b.lang
      GROUP BY a.lang, b.lang
    )
    SELECT i.lang_a, i.lang_b, i.n_shared, sa.sz AS sz_a, sb.sz AS sz_b,
           CAST(i.n_shared AS DOUBLE) / least(sa.sz, sb.sz) AS containment
    FROM inter i
    JOIN sizes sa ON sa.lang = i.lang_a
    JOIN sizes sb ON sb.lang = i.lang_b
    ORDER BY lang_a, lang_b
    """,
)
def llm_crosslingual_ngram_overlap(spark, sf_dir):
    """Cross-lingual word-3-gram overlap between language sub-corpora
    — shared shingles across langs are contamination / boilerplate
    signals (true parallel text aside, distinct languages should
    share almost no exact 3-grams). Distinct shingles per lang (one
    explode, lang-keyed dedup), pairwise intersection via a
    shingle-keyed equi-join with lang_a < lang_b ordering — the
    intersection shuffle is keyed on shingle, so it scales with
    shared mass, not |A| x |B|; output is bounded by lang pairs.
    Containment = shared / min(|A|, |B|) is one division per pair.
    Scale: the same candidate-bounded shape as
    llm_ngram_containment, lifted from doc to lang grain. Reference
    analog: none (extends llm_decontaminate)."""
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    idx = F.explode(
        F.sequence(F.lit(1), F.greatest(F.size(words) - 2, F.lit(1)))
    ).alias("i")
    lg = (
        _t(spark, sf_dir, "documents")
        .select("lang", words.alias("__ws"), idx)
        .select(
            "lang",
            F.array_join(F.slice(F.col("__ws"), F.col("i"), 3), " ").alias("shingle"),
        )
        .distinct()
    )
    sizes = lg.groupBy("lang").agg(F.count("*").cast("long").alias("sz"))
    a, b = lg.alias("a"), lg.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.lang") < F.col("b.lang")),
        )
        .groupBy(F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    sa = sizes.withColumnRenamed("lang", "lang_a").withColumnRenamed("sz", "sz_a")
    sb = sizes.withColumnRenamed("lang", "lang_b").withColumnRenamed("sz", "sz_b")
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_shared",
            "sz_a",
            "sz_b",
            (
                F.col("n_shared").cast("double")
                / F.least(F.col("sz_a"), F.col("sz_b"))
            ).alias("containment"),
        )
        .orderBy("lang_a", "lang_b")
    )


_QUALITY_SQL = """
      SELECT doc_id, source,
             round((CASE WHEN n_tokens >= 20 THEN 0.4::DOUBLE ELSE 0.0 END)
                 + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10
                         THEN 0.3::DOUBLE ELSE 0.0 END)
                 + (CASE WHEN n_punct / n_chars_calc <= 0.1
                         THEN 0.2::DOUBLE ELSE 0.0 END)
                 + (CASE WHEN n_stop > 0 THEN 0.1::DOUBLE ELSE 0.0 END), 4) AS q
      FROM (
        SELECT doc_id, source,
               length(text) AS n_chars_calc,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS BIGINT) AS n_tokens,
               length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]',
                                                    '', 'g')) AS n_punct,
               length(replace(text, ' ', ''))
                 / len(list_filter(string_split(text, ' '), x -> x <> ''))
                 AS mean_word_len,
               len(list_intersect(list_filter(string_split(text, ' '),
                                              x -> x <> ''), {stops}))
                 AS n_stop
        FROM documents
      )
"""


@register(
    "llm_preference_pairs",
    f"""
    WITH scored AS ({_QUALITY_SQL.format(
        stops="[" + ", ".join(f"'{w}'" for w in ts.STOPWORDS["en"]) + "]"
    )}),
    ranked AS (
      SELECT source, doc_id, q,
             row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id)
               AS rn_best,
             row_number() OVER (PARTITION BY source ORDER BY q ASC, doc_id)
               AS rn_worst
      FROM scored
    )
    SELECT b.source,
           b.doc_id AS chosen_doc, w.doc_id AS rejected_doc,
           b.q AS q_chosen, w.q AS q_rejected,
           round(b.q - w.q, 4) AS margin
    FROM (SELECT * FROM ranked WHERE rn_best = 1) b
    JOIN (SELECT * FROM ranked WHERE rn_worst = 1) w ON b.source = w.source
    WHERE round(b.q - w.q, 4) >= 0.3
    ORDER BY b.source
    """,
)
def llm_preference_pairs(spark, sf_dir):
    """Per-source (chosen, rejected) preference pairs by the composite
    quality grid — deterministic preference-data mining for RLHF/DPO
    training: within each source the best and worst documents under
    the TOTAL (quality, doc_id) order form a pair, kept only when the
    quality margin >= 0.3 (pairs too close to call are noise, the
    standard preference-mining filter). Quality rides the established
    4dp grid (llm_quality_score), so ranks and the margin filter are
    grid-exact cross-engine. Scale: one scoring scan + two per-source
    window top-1s (group-bounded), no pairwise anything. Reference
    analog: none (extends llm_quality_score / llm_dedup_keep_best
    toward preference training data)."""
    d = ts.with_quality_score(_t(spark, sf_dir, "documents"))
    scored = d.select("doc_id", "source", F.col("quality_score").alias("q"))
    wb = Window.partitionBy("source").orderBy(F.desc("q"), F.asc("doc_id"))
    ww = Window.partitionBy("source").orderBy(F.asc("q"), F.asc("doc_id"))
    ranked = scored.select(
        "source",
        "doc_id",
        "q",
        F.row_number().over(wb).alias("rn_best"),
        F.row_number().over(ww).alias("rn_worst"),
    )
    b = ranked.where(F.col("rn_best") == 1).select(
        "source", F.col("doc_id").alias("chosen_doc"), F.col("q").alias("q_chosen")
    )
    w = ranked.where(F.col("rn_worst") == 1).select(
        "source", F.col("doc_id").alias("rejected_doc"), F.col("q").alias("q_rejected")
    )
    return (
        b.join(w, "source")
        .withColumn("margin", F.round(F.col("q_chosen") - F.col("q_rejected"), 4))
        .where(F.col("margin") >= 0.3)
        .select(
            "source", "chosen_doc", "rejected_doc", "q_chosen", "q_rejected", "margin"
        )
        .orderBy("source")
    )


_BUDGET_PCT = 50  # percent of total corpus tokens


@register(
    "llm_token_budget_fill",
    f"""
    WITH src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CAST(len(list_filter(string_split(text, ' '),
                                           x -> x <> '')) AS BIGINT))
                  AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM src),
    ranked AS (
      -- // : integer division (DuckDB / on BIGINTs would yield DOUBLE
      -- and order by a rounded priority)
      SELECT source, n_docs, tokens,
             row_number() OVER (ORDER BY tokens * 1000000 // n_docs DESC,
                                source) AS prio,
             sum(tokens) OVER (ORDER BY tokens * 1000000 // n_docs DESC, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_cum
      FROM src
    )
    SELECT CAST(prio AS BIGINT) AS prio, source, n_docs, tokens,
           CAST(greatest(0, least(tokens,
                (SELECT total * {_BUDGET_PCT} // 100 FROM tot)
                  - coalesce(prev_cum, 0))) AS BIGINT) AS allocated
    FROM ranked ORDER BY prio
    """,
)
def llm_token_budget_fill(spark, sf_dir):
    """Greedy token-budget allocation: sources ranked by token density
    (tokens-per-doc as the exact integer tokens*1e6 DIV n_docs —
    no float priority), filled in rank order until the budget (50% of
    corpus tokens, integer division) is exhausted; the partially-
    funded boundary source gets the exact remainder. One running
    prefix sum (1 PRECEDING frame) + an integer clamp — the
    distributed-prefix-sum allocation shape of llm_pack_sequences
    lifted to the source grain. Everything is exact integers.
    Scale: source-grain table is dimension-bounded; the window is
    trivial. Reference analog: none (extends llm_source_mix /
    llm_source_temperature_mix)."""
    words = F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    ).cast("long")
    src = (
        _t(spark, sf_dir, "documents")
        .select("source", words.alias("w"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("tokens"),
        )
    )
    tot = src.agg(F.sum("tokens").cast("long").alias("total"))
    prio_key = F.expr("tokens * 1000000 DIV n_docs")
    w_ord = Window.orderBy(F.desc(prio_key), F.asc("source"))
    ranked = src.select(
        "source",
        "n_docs",
        "tokens",
        F.row_number().over(w_ord).alias("prio"),
        F.sum("tokens").over(w_ord.rowsBetween(Window.unboundedPreceding, -1)).alias(
            "prev_cum"
        ),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.col("prio").cast("long").alias("prio"),
            "source",
            "n_docs",
            "tokens",
            F.greatest(
                F.lit(0),
                F.least(
                    F.col("tokens"),
                    F.expr(f"total * {_BUDGET_PCT} DIV 100")
                    - F.coalesce(F.col("prev_cum"), F.lit(0)),
                ),
            )
            .cast("long")
            .alias("allocated"),
        )
        .orderBy("prio")
    )


_TARGET_BUCKET = 64


def _adaptive_bucket_sql() -> str:
    """DuckDB mirror of adaptive_sign_bucket over the params.bits
    column: bit j is live iff j < bits and embedding[dims[j]] > 0."""
    terms = "\n           + ".join(
        f"(CASE WHEN p.bits > {j} AND embedding[{d}] > 0 THEN {2 ** j} ELSE 0 END)"
        for j, d in enumerate(ADAPTIVE_SIGN_DIMS)
    )
    return f"CAST({terms} AS INTEGER)"


_PARAMS_SQL = f"""
    params AS (
      SELECT LEAST(16, GREATEST(2,
               CAST(ceil(log2(CAST(count(*) AS DOUBLE) / {float(_TARGET_BUCKET)})) AS INTEGER)
             )) AS bits,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(vec_id) AS BIGINT) AS sum_ids
      FROM embeddings
    ),
    bb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_adaptive_bucket_sql()} AS bucket
      FROM embeddings CROSS JOIN params p
    ),
    pairs AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS s
      FROM bb a JOIN bb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
"""


def _adaptive_base(spark, sf_dir):
    """(params 1-row literal frame, CHECKPOINTED bucketed base frame
    with precomputed norms) — shared by both scaled entries. Norm
    hoisting per the r5 lesson: the inlined cosine re-folds both
    64-element aggregates per pair otherwise (measured 2.4x slower on
    the fixed-bucket twin). Params collected to literals + base
    localCheckpointed per the r13 multiplicity fix (module
    docstring): the self-join in _adaptive_pairs otherwise duplicates
    the whole scan+bucket subtree per side."""
    from ..operators.ckpt import checkpoint_rotate

    e = _t(spark, sf_dir, "embeddings")
    row = e.agg(
        F.count(F.lit(1)).alias("n"), F.sum("vec_id").cast("long").alias("sum_ids")
    ).select(
        adaptive_bits_expr(F.col("n"), _TARGET_BUCKET).alias("bits"),
        F.col("n").cast("long").alias("n_total"),
        "sum_ids",
    ).collect()[0]  # bounded 1-row collect
    if not row["n_total"]:
        # empty source table: log2(0) makes bits/sum_ids NULL and the
        # int() casts below would raise a bare TypeError (ADVICE r13).
        # Degrade to the clamp floor with zero totals — the bucketed
        # base is empty, so both scaled entries return zero rows, the
        # same thing the oracle computes over an empty table.
        bits, n_total, sum_ids = 2, 0, 0
    else:
        bits, n_total, sum_ids = int(row["bits"]), int(row["n_total"]), int(row["sum_ids"])
    base = e.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        adaptive_sign_bucket(F.col("embedding"), F.lit(bits)).alias("bucket"),
    ).withColumn("nrm", norm(F.col("v")))
    base, _ = checkpoint_rotate(base)
    params = spark.range(1).select(
        F.lit(bits).cast("int").alias("bits"),
        F.lit(n_total).cast("long").alias("n_total"),
        F.lit(sum_ids).cast("long").alias("sum_ids"),
    )
    return params, base


def _adaptive_pairs(base):
    a, b = base.alias("a"), base.alias("b")
    return a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("ida"),
        F.col("b.vec_id").alias("idb"),
        F.round(
            dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 6
        ).alias("s"),
    )


@register(
    "llm_semdedup_prune_scaled",
    f"""
    WITH {_PARAMS_SQL},
    thresholds AS (SELECT CAST(thr AS DOUBLE) AS thr
                   FROM (VALUES (0.30), (0.35), (0.40)) t(thr)),
    dropped AS (
      SELECT t.thr, pr.idb AS vec
      FROM pairs pr CROSS JOIN thresholds t
      WHERE pr.s > t.thr
      GROUP BY t.thr, pr.idb
    )
    SELECT t.thr AS threshold,
           CAST(p.bits AS INTEGER) AS bits,
           p.n_total,
           CAST(coalesce(count(d.vec), 0) AS BIGINT) AS n_dropped,
           p.n_total - CAST(coalesce(count(d.vec), 0) AS BIGINT) AS n_kept,
           p.sum_ids - CAST(coalesce(sum(d.vec), 0) AS BIGINT) AS sum_kept_ids
    FROM thresholds t CROSS JOIN params p LEFT JOIN dropped d ON d.thr = t.thr
    GROUP BY t.thr, p.bits, p.n_total, p.sum_ids
    """,
)
def llm_semdedup_prune_scaled(spark, sf_dir):
    """SemDeDup-style keep-first pruning over ADAPTIVE sign-LSH
    candidate buckets (B = 2^bits, bits ∝ log2(n/64)) — the
    100 TB-shaped twin of the pinned fixed-16-bucket
    `llm_semdedup_prune`. Identical keep/drop semantics (drop every
    vector with a LOWER-id neighbor above threshold; similarities
    rounded 1e-6 BEFORE thresholding so the cut is engine-invariant;
    retention digested as count + id-sum of keepers), but the scored
    pair space is ~n * target_bucket instead of n^2/16. `bits` is
    emitted so the oracle checks the knob itself at every SF."""
    params, base = _adaptive_base(spark, sf_dir)
    pairs = _adaptive_pairs(base)
    thresholds = spark.range(1).select(
        F.explode(F.array(F.lit(0.30), F.lit(0.35), F.lit(0.40))).alias("thr")
    )
    # r14 (guide §2.3): "idb dropped at thr" ⟺ max over idb's pair
    # similarities exceeds thr (s is rounded 1e-6 BEFORE both, and max
    # on doubles has no summation order), so one partial-aggregable
    # max per idb replaces the r13 (thr, idb) distinct — that shape
    # exploded pairs x |thresholds| (~4M rows at sf0.1) into a
    # distinct exchange; this one exchanges |idb| rows once and the
    # threshold fan-out runs over the ~n-row smax table. A/B at sf0.1
    # (5 interleaved noop reps, min): 2.45s -> 1.60s, outputs
    # identical at sf0.001/sf0.01.
    smax = pairs.groupBy("idb").agg(F.max("s").alias("smax"))
    agg = (
        smax.crossJoin(F.broadcast(thresholds))
        .filter(F.col("smax") > F.col("thr"))
        .groupBy("thr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dropped_raw"),
            F.sum("idb").cast("long").alias("sum_dropped_raw"),
        )
    )
    # agg is grouped by thr, so it holds at most len(thresholds) = 3
    # rows at any scale: broadcast it rather than shuffle both sides
    return (
        thresholds.join(F.broadcast(agg), "thr", "left")
        .crossJoin(F.broadcast(params))
        .select(
            F.col("thr").alias("threshold"),
            F.col("bits").cast("int").alias("bits"),
            "n_total",
            F.coalesce(F.col("n_dropped_raw"), F.lit(0))
            .cast("long")
            .alias("n_dropped"),
            (F.col("n_total") - F.coalesce(F.col("n_dropped_raw"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
            (F.col("sum_ids") - F.coalesce(F.col("sum_dropped_raw"), F.lit(0)))
            .cast("long")
            .alias("sum_kept_ids"),
        )
    )


@register(
    "llm_embedding_neardup_scaled",
    f"""
    WITH {_PARAMS_SQL}
    SELECT ida AS a, idb AS b, round(s, 4) AS cosine_sim
    FROM pairs
    WHERE s > 0.35
    """,
)
def llm_embedding_neardup_scaled(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs from ADAPTIVE sign-LSH
    buckets — the scale-parameterized twin of the pinned fixed-bucket
    `llm_embedding_neardup` (registry/llm.py:50): same exact-cosine
    verification above 0.35, candidate space ~n * target_bucket
    instead of n^2/16. Rounded 1e-6 before the threshold (the shared
    pair table convention), re-rounded to 4dp for output parity with
    the fixed twin."""
    _params, base = _adaptive_base(spark, sf_dir)
    return (
        _adaptive_pairs(base)
        .filter(F.col("s") > 0.35)
        .select(
            F.col("ida").alias("a"),
            F.col("idb").alias("b"),
            F.round(F.col("s"), 4).alias("cosine_sim"),
        )
    )


# --------------------------------------------------------------------------
# r9 LLM-pipeline addition: ATOMIC next-fit sequence packing —
# surface-freeze slot 4 of 5.
# --------------------------------------------------------------------------

_PACK_BUDGET = 512


_PACK_SQL = f"""
    WITH RECURSIVE d AS (
      SELECT source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS BIGINT) AS w
      FROM documents
    ),
    walk AS (
      SELECT source, rn, w AS fill, CAST(1 AS BIGINT) AS bins,
             CAST(0 AS BIGINT) AS maxb
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.source, d.rn,
             CASE WHEN walk.fill + d.w > {_PACK_BUDGET}
                  THEN d.w ELSE walk.fill + d.w END,
             CASE WHEN walk.fill + d.w > {_PACK_BUDGET}
                  THEN walk.bins + 1 ELSE walk.bins END,
             CASE WHEN walk.fill + d.w > {_PACK_BUDGET}
                  THEN greatest(walk.maxb, walk.fill) ELSE walk.maxb END
      FROM walk JOIN d ON d.source = walk.source AND d.rn = walk.rn + 1
    ),
    fin AS (
      SELECT source, bins AS n_bins, greatest(maxb, fill) AS max_bin_tokens
      FROM (SELECT *, row_number() OVER (PARTITION BY source
                                         ORDER BY rn DESC) AS rr
            FROM walk)
      WHERE rr = 1
    ),
    st AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(w) AS BIGINT) AS total_tokens,
             CAST(sum(CASE WHEN w > {_PACK_BUDGET} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_oversize
      FROM d GROUP BY source
    )
    SELECT st.source, n_docs, total_tokens, n_bins, max_bin_tokens,
           n_oversize,
           round(CAST(total_tokens AS DOUBLE) / (n_bins * {_PACK_BUDGET}.0), 4)
             + 0 AS efficiency
    FROM st JOIN fin ON st.source = fin.source
    ORDER BY st.source
    """


@register("llm_sequence_packing", _PACK_SQL)
def llm_sequence_packing(spark, sf_dir):
    """ATOMIC next-fit sequence packing: documents fill {b}-token
    training bins in doc_id order per source and NEVER straddle a bin
    boundary — the SFT/instruction-tuning packing, complementary to
    llm_pack_sequences' concat-then-chunk (GPT-style) packing where
    splits are allowed. A doc opens a new bin when it would overflow
    the current one; an oversize doc (> {b} tokens) gets a bin of its
    own (reported as n_oversize — the truncation-policy candidates).
    Per source: n_bins, max bin fill, and packing efficiency
    total/(bins*{b}).

    The bin recurrence (reset-on-threshold running sum) is NOT window-
    expressible — the running value depends on every earlier reset —
    so the Spark side folds each source's sorted (doc_id, tokens)
    array with ONE higher-order aggregate() (the
    ml_hmm_forward/ext_holt_linear sequential-fold doctrine) and the
    oracle walks the identical all-integer recurrence as a recursive
    CTE: bit-identical trajectories, no rounding pins anywhere, one
    final division for the efficiency ratio. Scale shape: one
    source-keyed exchange; each source's fold is linear and sources
    pack independently, so at 100 TB you shard to (source, day) keys
    and the same plan holds — packing is inherently sequential only
    WITHIN a shard stream. Reference analog: none (training-data
    batching extension).""".format(b=_PACK_BUDGET)
    docs = _t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
        )
        .cast("long")
        .alias("w"),
    )
    seq = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("w") > _PACK_BUDGET, 1).otherwise(0))
        .cast("long")
        .alias("n_oversize"),
        F.sort_array(F.collect_list(F.struct("doc_id", "w"))).alias("xs"),
    )
    packed = seq.withColumn(
        "p",
        F.expr(
            f"""
            aggregate(
              xs,
              named_struct('fill', CAST(0 AS BIGINT),
                           'bins', CAST(0 AS BIGINT),
                           'maxb', CAST(0 AS BIGINT)),
              (acc, x) -> CASE
                WHEN acc.bins = 0 THEN
                  named_struct('fill', x.w, 'bins', CAST(1 AS BIGINT),
                               'maxb', CAST(0 AS BIGINT))
                WHEN acc.fill + x.w > {_PACK_BUDGET} THEN
                  named_struct('fill', x.w, 'bins', acc.bins + 1,
                               'maxb', greatest(acc.maxb, acc.fill))
                ELSE
                  named_struct('fill', acc.fill + x.w, 'bins', acc.bins,
                               'maxb', acc.maxb)
                END,
              acc -> named_struct('bins', acc.bins,
                                  'maxb', greatest(acc.maxb, acc.fill)))
            """
        ),
    )
    return packed.selectExpr(
        "source",
        "n_docs",
        "total_tokens",
        "p.bins AS n_bins",
        "p.maxb AS max_bin_tokens",
        "n_oversize",
        f"round(CAST(total_tokens AS DOUBLE) / (p.bins * {_PACK_BUDGET}.0), 4)"
        " + 0 AS efficiency",
    ).orderBy("source")


# Shared oracle CTE: distinct 5-char shingles per document.
SHINGLES_SQL = """
  sh AS (
    SELECT DISTINCT doc_id, substr(text, i, 5) AS shingle FROM (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i
      FROM documents
    )
  )
"""


# Distinct word-3-gram shingles for docs with doc_id < 40.
WORD3_SQL = """
  w3 AS (
    SELECT DISTINCT doc_id,
           array_to_string(list_slice(ws, i, i + 2), ' ') AS shingle
    FROM (
      SELECT doc_id, ws,
             unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
      FROM (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents WHERE doc_id < 40
      )
    )
  )
"""


MINHASH_SQL = """
  mh AS (
    SELECT doc_id,
           min(substr(md5(shingle), 1, 8))  AS mh1, min(substr(md5(shingle), 9, 8))  AS mh2,
           min(substr(md5(shingle), 17, 8)) AS mh3, min(substr(md5(shingle), 25, 8)) AS mh4
    FROM sh GROUP BY doc_id
  )
"""


@register(
    "llm_dedup_exact_stats",
    """
    SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
           count(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))) AS n_unique_norm
    FROM documents
    """,
)
def llm_dedup_exact_stats(spark, sf_dir):
    """Exact + normalized dedup cardinality: shuffle 128-bit
    fingerprints, never full text (the 100 TB-relevant property)."""
    d = _t(spark, sf_dir, "documents")
    fp = with_fingerprint(d)
    return fp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        F.countDistinct("fp_norm").alias("n_unique_norm"),
    )


@register(
    "llm_dedup_keep_first",
    "SELECT md5(text) AS fp, min(doc_id) AS doc_id FROM documents GROUP BY md5(text)",
)
def llm_dedup_keep_first(spark, sf_dir):
    """Exact dedup, keep smallest doc_id per content fingerprint."""
    return exact_dedup_keep_first(_t(spark, sf_dir, "documents"))


@register(
    "llm_minhash_signatures",
    f"WITH {SHINGLES_SQL}, {MINHASH_SQL} SELECT doc_id, mh1, mh2, mh3, mh4 FROM mh",
)
def llm_minhash_signatures(spark, sf_dir):
    """4-component MinHash signature per doc over 5-char shingles.
    min over 8-hex-char slices of md5(shingle) is a valid MinHash
    permutation and computes identically in any engine (llm/dedup.py
    module docstring)."""
    d = _t(spark, sf_dir, "documents")
    return minhash_from_docs(d)


@register(
    "llm_lsh_candidate_pairs",
    f"""
    WITH {SHINGLES_SQL}, {MINHASH_SQL},
    banded AS (
      SELECT doc_id, md5(mh1 || '|' || mh2) AS band_key FROM mh
      UNION ALL
      SELECT doc_id, md5(mh3 || '|' || mh4) AS band_key FROM mh
    )
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
    FROM banded l JOIN banded r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
    """,
)
def llm_lsh_candidate_pairs(spark, sf_dir):
    """MinHash LSH banding (2 bands x 2 rows): candidate pairs from
    band-key equi-joins — candidate generation proportional to true
    collisions, not n^2."""
    d = _t(spark, sf_dir, "documents")
    return lsh_candidate_pairs(minhash_from_docs(d))


@register(
    "llm_ngram_jaccard",
    f"""
    WITH {WORD3_SQL},
    sizes AS (SELECT doc_id, count(*) AS sz FROM w3 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_inter
      FROM w3 a JOIN w3 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a, b, round(n_inter / (sa.sz + sb.sz - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    """,
)
def llm_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard for all overlapping pairs in a 40-doc
    slice — the verification stage that LSH candidates feed at scale."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    sh = word_ngrams(d)
    pairs = (
        sh.alias("l")
        .join(sh.alias("r"), (F.col("l.shingle") == F.col("r.shingle")) & (F.col("l.doc_id") < F.col("r.doc_id")))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )
    return jaccard_pairs(sh, pairs)


_SIMHASH_SUMS = ", ".join(
    f"sum(strpos('0123456789abcdef', substr(md5(shingle), {p}, 1)) - 8.5) AS s{p}"
    for p in range(1, 17)
)


_SIMHASH_BITS = " + ".join(
    f"(CASE WHEN s{p} > 0 THEN {1 << (p - 1)} ELSE 0 END)" for p in range(1, 17)
)


@register(
    "llm_simhash",
    f"""
    WITH {SHINGLES_SQL},
    sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM sh GROUP BY doc_id)
    SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash FROM sums
    """,
)
def llm_simhash(spark, sf_dir):
    """16-bit SimHash over the shingle set (hex-digit dimensions —
    llm/dedup.simhash16 docstring)."""
    d = _t(spark, sf_dir, "documents")
    return simhash16(char_shingles(d))


@register(
    "llm_dedup_components",
    f"""
    WITH {SHINGLES_SQL}, {MINHASH_SQL},
    banded AS (
      SELECT doc_id, md5(mh1 || '|' || mh2) AS band_key FROM mh
      UNION ALL
      SELECT doc_id, md5(mh3 || '|' || mh4) AS band_key FROM mh
    ),
    edges AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM banded l JOIN banded r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
    ),
    sym AS (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
    reach AS (
      WITH RECURSIVE reach0(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, s.v FROM reach0 r JOIN sym s ON r.dst = s.u
      )
      SELECT * FROM reach0
    )
    SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src
    """,
)
def llm_dedup_components(spark, sf_dir):
    """Dedup cluster formation: connected components over the MinHash-
    LSH candidate graph (transitive closure of near-dup pairs) via
    iterative min-label propagation — the Spark-native form of an
    operator the DataFrame API lacks (llm/cluster.py). Oracle: a
    recursive-CTE transitive closure computing the same min-reachable
    label."""
    from ..llm.cluster import connected_components

    d = _t(spark, sf_dir, "documents")
    # Bucket-star edges, not all-pairs: identical transitive closure,
    # linear (not quadratic) in hot-bucket occupancy — see
    # llm/dedup.lsh_star_edges.
    edges = lsh_star_edges(minhash_from_docs(d))
    return connected_components(d.select("doc_id"), edges)


# --- similarity search -----------------------------------------------------

_COSINE_BASE_SQL = """
  base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 5)
"""


@register(
    "llm_cosine_topk",
    f"""
    WITH {_COSINE_BASE_SQL},
    scored AS (
      SELECT query_id, b.vec_id AS neighbor_id,
             round(list_dot_product(qv, v)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
                   4) AS cosine_sim
      FROM q, base b WHERE b.vec_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def llm_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-3 for 5 query vectors — the exact ANN
    baseline. Query side broadcast; corpus scanned once."""
    e = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(e, [0, 1, 2, 3, 4], k=3)


@register(
    "llm_ann_bucket_counts",
    """
    SELECT bucket, count(*) AS n, min(vec_id) AS min_vec_id FROM (
      SELECT vec_id,
             CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
                + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
                + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END) AS INTEGER) AS bucket
      FROM embeddings
    ) GROUP BY bucket
    """,
)
def llm_ann_bucket_counts(spark, sf_dir):
    """Sign-LSH bucket occupancy (4 coordinate hyperplanes -> 16
    buckets): the ANN scale path's candidate-set diagnostic."""
    return lsh_bucket_counts(_t(spark, sf_dir, "embeddings"))


@register(
    "llm_ann_lsh_topk",
    f"""
    WITH
    bb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
                + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
                + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END) AS INTEGER) AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bb WHERE vec_id < 5),
    scored AS (
      SELECT query_id, b.vec_id AS neighbor_id,
             round(list_dot_product(qv, b.v)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(b.v, b.v))),
                   4) AS cosine_sim
      FROM q JOIN bb b ON q.bucket = b.bucket AND b.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def llm_ann_lsh_topk(spark, sf_dir):
    """Approximate top-3: only same-bucket candidates are scored — at
    100 TB this is the difference between scoring ~1/16th of the corpus
    and all of it (recall traded via bucket count)."""
    return lsh_topk(_t(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=3)


# Seeded random hyperplanes shared verbatim (rounded-literal for
# identical doubles) between the Spark plan and the DuckDB oracle.
_ANN_PLANES = random_hyperplanes(dim=64, n_planes=6, n_tables=2, seed=7)


def _bucket_sql(planes_for_table):
    terms = []
    for j, p in enumerate(planes_for_table):
        lits = ", ".join(repr(x) for x in p)
        terms.append(
            f"(CASE WHEN list_dot_product(v, CAST([{lits}] AS DOUBLE[])) > 0"
            f" THEN {2**j} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS INTEGER)"


@register(
    "llm_ann_multiprobe_topk",
    f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    tagged AS (
      SELECT vec_id, v, 0 AS tbl, {_bucket_sql(_ANN_PLANES[0])} AS bucket FROM base
      UNION ALL
      SELECT vec_id, v, 1 AS tbl, {_bucket_sql(_ANN_PLANES[1])} AS bucket FROM base
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, tbl, bucket FROM tagged WHERE vec_id < 5),
    qp AS (SELECT query_id, qv, tbl, xor(bucket, off) AS bucket
           FROM q, (VALUES (0), (1), (2)) p(off)),
    scored AS (
      SELECT query_id, b.vec_id AS neighbor_id,
             round(list_dot_product(qv, b.v)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(b.v, b.v))),
                   4) AS cosine_sim
      FROM qp JOIN tagged b
        ON qp.tbl = b.tbl AND qp.bucket = b.bucket AND b.vec_id <> qp.query_id
    ),
    dedup AS (SELECT query_id, neighbor_id, max(cosine_sim) AS cosine_sim
              FROM scored GROUP BY 1, 2)
    SELECT query_id, neighbor_id, cosine_sim, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
      FROM dedup
    ) WHERE rnk <= 3
    """,
)
def llm_ann_multiprobe_topk(spark, sf_dir):
    """ANN top-3 with tunable recall (VERDICT item 5): 2 independent
    6-plane random-hyperplane tables (seeded Gaussian, band-OR) plus
    Hamming-1 multi-probe on the first 2 sign bits. Candidates come
    from a (table, bucket) equi-join against the broadcast query side;
    multi-table/probe duplicates collapse via partial-aggregable
    groupBy max. Recall vs brute force is test-asserted
    (tests/test_llm_ops.py)."""
    return multiprobe_lsh_topk(
        _t(spark, sf_dir, "embeddings"),
        [0, 1, 2, 3, 4],
        k=3,
        planes=_ANN_PLANES,
        probe_bits=2,
    )


# --- text analysis -----------------------------------------------------------

_HITS_SQL = {
    lang: (
        "len(list_intersect(list_filter(string_split(text, ' '), x -> x <> ''), "
        + "[" + ", ".join(f"'{w}'" for w in ts.STOPWORDS[lang]) + "]))"
    )
    for lang in ts.LANG_ORDER
}


_BEST_SQL = "greatest(" + ", ".join(f"hits_{l}" for l in ts.LANG_ORDER) + ")"


_PRED_SQL = (
    "CASE WHEN " + _BEST_SQL + " <= 0 THEN 'unknown' "
    + " ".join(f"WHEN hits_{l} = {_BEST_SQL} THEN '{l}'" for l in ts.LANG_ORDER)
    + " END"
)


@register(
    "llm_language_id",
    f"""
    SELECT doc_id, lang, hits_en, hits_de, hits_fr, hits_es, hits_zh,
           {_PRED_SQL} AS pred_lang
    FROM (
      SELECT doc_id, lang,
             {", ".join(f"CAST({_HITS_SQL[l]} AS INT) AS hits_{l}" for l in ts.LANG_ORDER)}
      FROM documents
    )
    """,
)
def llm_language_id(spark, sf_dir):
    """Stopword-hit language-ID heuristic with a fixed argmax tie
    order; `lang` (the labeled truth) rides along for accuracy eval."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return ts.with_language_id(d).drop("text")


@register(
    "llm_token_counts",
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT)
             AS n_tokens_ws,
           CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x <> '')) AS INT) AS n_tokens_alnum
    FROM documents
    """,
)
def llm_token_counts(spark, sf_dir):
    """Whitespace + alnum-run tokenization counts."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return ts.with_token_counts(d).drop("text")


@register(
    "llm_quality_score",
    f"""
    SELECT doc_id, n_chars_calc, n_tokens, n_punct,
           round(mean_word_len, 4) AS mean_word_len,
           round((CASE WHEN n_tokens >= 20 THEN 0.4::DOUBLE ELSE 0.0 END)
               + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10 THEN 0.3::DOUBLE ELSE 0.0 END)
               + (CASE WHEN n_punct / n_chars_calc <= 0.1 THEN 0.2::DOUBLE ELSE 0.0 END)
               + (CASE WHEN n_stop > 0 THEN 0.1::DOUBLE ELSE 0.0 END), 4) AS quality_score
    FROM (
      SELECT doc_id,
             length(text) AS n_chars_calc,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
             length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct,
             length(replace(text, ' ', ''))
               / len(list_filter(string_split(text, ' '), x -> x <> '')) AS mean_word_len,
             {_HITS_SQL["en"]} AS n_stop
      FROM documents
    )
    """,
)
def llm_quality_score(spark, sf_dir):
    """Length/punctuation/stopword quality features + composite score
    (the classic pre-training quality-filter shape)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return ts.with_quality_score(d).drop("text")


@register(
    "llm_fingerprint",
    """
    SELECT doc_id, md5(text) AS fp,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                    ' +', ' ', 'g'))) AS fp_norm
    FROM documents
    """,
)
def llm_fingerprint(spark, sf_dir):
    """Content + normalized-content fingerprints (dedup join keys)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_fingerprint(d).drop("text")


# --- multimodal --------------------------------------------------------------


@register(
    "llm_multimodal_pack",
    """
    SELECT doc_id AS asset_id, 'text' AS media_type,
           CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           CAST(length(text) AS VARCHAR) AS meta_orig_len
    FROM documents
    """,
)
def llm_multimodal_pack(spark, sf_dir):
    """Multimodal packing: text payload -> opaque binary `content` +
    typed metadata map (schemas.MULTIMODAL_ASSET convention). The
    oracle checks byte length + content digest of the binary."""
    d = _t(spark, sf_dir, "documents")
    assets = mm.pack_assets(d, "doc_id", "text", F.lit("text"))
    return assets.select(
        "asset_id",
        "media_type",
        F.octet_length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
        F.element_at("meta", "orig_len").alias("meta_orig_len"),
    )


@register(
    "llm_multimodal_decode",
    """
    SELECT CAST(doc_id AS BIGINT) AS asset_id,
           'text' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN length(text) = 0 THEN 0
                     ELSE unicode(substr(text, 1, 1)) END AS DOUBLE) AS feat_first,
           CAST(CASE WHEN length(text) = 0 THEN 0
                     ELSE unicode(substr(text, length(text), 1)) END AS DOUBLE)
             AS feat_last,
           CAST(CASE WHEN length(text) = 0 THEN 0
                     ELSE mod(list_sum(list_transform(string_split(text, ''),
                                                      c -> unicode(c))), 997)
                END AS DOUBLE) AS feat_checksum
    FROM documents
    """,
)
def llm_multimodal_decode(spark, sf_dir):
    """Arrow-batched mapInPandas decode over packed assets. The codec
    is a deterministic byte-statistic STUB (llm/multimodal.decode_stub
    with fake=True — real image/audio libs absent in this container;
    fake=False is the integration point); the distributed plumbing
    (schema, batching, partition preservation) is real. Upgraded (r7
    verdict item 5) from rows-only to an EXACT oracle: the fake
    feature vector is (n_bytes, first_byte, last_byte, byte_sum mod
    997) over the UTF-8 payload, which DuckDB reproduces with
    per-character unicode() arithmetic — valid because the documents
    corpus is pure ASCII (probed: 0 non-ASCII rows at every SF;
    code point == byte there), so the whole batch path from pack
    through Arrow decode is now value-checked per asset."""
    d = _t(spark, sf_dir, "documents")
    assets = mm.pack_assets(d, "doc_id", "text", F.lit("text"))
    decoded = mm.decode_assets(assets, fake=True)
    return decoded.select(
        "asset_id",
        "media_type",
        "n_bytes",
        F.element_at("features", 2).alias("feat_first"),
        F.element_at("features", 3).alias("feat_last"),
        F.element_at("features", 4).alias("feat_checksum"),
    )


# --- training-data preparation ops (round 2) --------------------------------


@register(
    "llm_chunk_documents",
    """
    SELECT doc_id, CAST(idx AS INT) AS chunk_idx,
           CAST(len(chunk_words) AS INT) AS n_words,
           array_to_string(chunk_words, ' ') AS chunk_text
    FROM (
      SELECT doc_id, idx,
             list_slice(ws, start, least(start + 19, len(ws))) AS chunk_words
      FROM (
        SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 5, 1), 15)) AS start,
               unnest(generate_series(1, greatest(len(ws) - 5, 1), 15)) - 1 AS _s0,
               CAST((unnest(generate_series(1, greatest(len(ws) - 5, 1), 15)) - 1) / 15
                    AS BIGINT) AS idx
        FROM (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
          FROM documents
        )
      )
    )
    WHERE len(chunk_words) > 0
    """,
)
def llm_chunk_documents(spark, sf_dir):
    """Document chunking for training-data prep: 20-word chunks with
    5-word overlap (stride 15), expressed as sequence + explode +
    slice — pure codegen, no UDF; chunk boundaries are word-aligned and
    deterministic. At 100 TB this is one Generate over pre-split word
    arrays (rows multiply by ~len/stride, bytes stay ~1x + overlap)."""
    from ..llm.prep import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"))


@register(
    "llm_train_test_split",
    f"""
    SELECT split, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
    FROM (
      SELECT doc_id,
             CASE WHEN ({_HEXPOS.format(p=1)}) * 16 + ({_HEXPOS.format(p=2)}) < 205
                  THEN 'train' ELSE 'test' END AS split
      FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
    )
    GROUP BY split
    """,
)
def llm_train_test_split(spark, sf_dir):
    """Deterministic hash-based train/test split (~80/20): the split of
    a document is a pure function of its id (md5 first byte < 205/256),
    so it is stable across runs, engines, and cluster sizes — the
    property that matters for reproducible training data. No RNG, no
    shuffle beyond the count aggregation."""
    from ..llm.prep import hash_split

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", hash_split(d).alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("sum_doc_id"))
    )


@register(
    "llm_scrub_text",
    r"""
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(
                 text || ' contact: user' || CAST(doc_id AS VARCHAR)
                      || '@example.com tel 555-0142',
                 '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
                 '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_fp
    FROM documents
    """,
)
def llm_scrub_text(spark, sf_dir):
    """PII-style scrubbing (email/phone masking) as whole-column
    regexp_replace — JVM-side, no UDF. The input is augmented with a
    synthetic contact line (the corpus has no PII) so the masking path
    is actually exercised; the fingerprint of the scrubbed text is the
    differential check that both regex engines rewrote identically."""
    d = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com tel 555-0142"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(aug, r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+", "<EMAIL>"),
        r"[0-9]{3}-[0-9]{4}",
        "<PHONE>",
    )
    return d.select("doc_id", F.md5(scrubbed).alias("scrubbed_fp"))


@register(
    "llm_ann_ivf_recall",
    """
    SELECT CAST(least(5, count(*) - 1) * count(*) FILTER (WHERE vec_id < 10) AS BIGINT)
             AS n_pairs,
           true AS recall_ge_half
    FROM embeddings
    """,
)
def llm_ann_ivf_recall(spark, sf_dir):
    """IVF-style ANN (seeded KMeans coarse quantizer, 8 cells, probe
    3): the driver-checkable output is the recall invariant against the
    exact brute-force top-5 for 10 queries, computed in-query via a
    semi join. KMeans is deterministic under the fixed seed, so the
    invariant is stable; measured recall 0.62 at sf0.01 scoring ~3/8 of
    the corpus per query (llm/similarity.ivf_topk). The oracle derives
    n_pairs from the table (5 per present query id) rather than a
    literal, so the invariant self-adjusts if an SF dir lacks some of
    vec_id 0-9; the recall>=0.5 bound is likewise checked relative to
    the actual pair count. Recall was validated at sf0.001/0.01/0.1 —
    revalidate when a new SF dir joins the sweep."""
    from ..llm.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    qids = list(range(10))
    brute = brute_force_topk(e, qids, k=5).select("query_id", "neighbor_id")
    ivf = ivf_topk(e, qids, k=5, n_cells=8, n_probe=3).select("query_id", "neighbor_id")
    hits = brute.join(ivf, ["query_id", "neighbor_id"], "left_semi")
    return brute.agg(F.count(F.lit(1)).alias("n_pairs")).crossJoin(
        hits.agg(F.count(F.lit(1)).alias("n_hits"))
    ).select(
        "n_pairs", (F.col("n_hits") * 2 >= F.col("n_pairs")).alias("recall_ge_half")
    )


@register(
    "llm_pipeline_end_to_end",
    f"""
    WITH kept AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    docs AS (
      SELECT d.doc_id, d.text FROM documents d JOIN kept k ON d.doc_id = k.doc_id
    ),
    chunks AS (
      SELECT doc_id,
             list_slice(ws, start, least(start + 19, len(ws))) AS chunk_words
      FROM (
        SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 5, 1), 15)) AS start
        FROM (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
          FROM docs
        )
      )
    ),
    labeled AS (
      SELECT doc_id, len(chunk_words) AS n_words,
             CASE WHEN (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) < 205
                  THEN 'train' ELSE 'test' END AS split
      FROM (SELECT doc_id, chunk_words, md5(CAST(doc_id AS VARCHAR)) AS h
            FROM chunks WHERE len(chunk_words) > 0)
    )
    SELECT split, count(*) AS n_chunks,
           count(DISTINCT doc_id) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS sum_words
    FROM labeled GROUP BY split
    """,
)
def llm_pipeline_end_to_end(spark, sf_dir):
    """The full training-data pipeline composed as ONE lazy plan:
    exact dedup (keep first) -> word-aligned chunking -> deterministic
    hash split -> per-split corpus stats. Catalyst plans the whole
    chain together (dedup's shuffle feeds the narrow chunk/split
    stages; one aggregation at the end) — the composition, not just
    the parts, is what a 100 TB data-prep job runs."""
    from ..llm.prep import chunk_documents, hash_split

    d = _t(spark, sf_dir, "documents")
    kept = exact_dedup_keep_first(d).select("doc_id")
    docs = d.join(kept, "doc_id", "left_semi")
    chunks = chunk_documents(docs)
    labeled = chunks.select("doc_id", "n_words", hash_split(chunks).alias("split"))
    return labeled.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_words").alias("sum_words"),
    )


@register(
    "llm_dedup_keep_best",
    f"""
    WITH {SHINGLES_SQL}, {MINHASH_SQL},
    banded AS (
      SELECT doc_id, md5(mh1 || '|' || mh2) AS band_key FROM mh
      UNION ALL
      SELECT doc_id, md5(mh3 || '|' || mh4) AS band_key FROM mh
    ),
    edges AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM banded l JOIN banded r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
    ),
    sym AS (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
    reach AS (
      WITH RECURSIVE reach0(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, s.v FROM reach0 r JOIN sym s ON r.dst = s.u
      )
      SELECT * FROM reach0
    ),
    comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src),
    q AS (
      SELECT doc_id,
             round((CASE WHEN n_tokens >= 20 THEN 0.4::DOUBLE ELSE 0.0 END)
                 + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10 THEN 0.3::DOUBLE ELSE 0.0 END)
                 + (CASE WHEN n_punct / n_chars_calc <= 0.1 THEN 0.2::DOUBLE ELSE 0.0 END)
                 + (CASE WHEN n_stop > 0 THEN 0.1::DOUBLE ELSE 0.0 END), 4) AS quality_score
      FROM (
        SELECT doc_id,
               length(text) AS n_chars_calc,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
               length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct,
               length(replace(text, ' ', ''))
                 / len(list_filter(string_split(text, ' '), x -> x <> '')) AS mean_word_len,
               {_HITS_SQL["en"]} AS n_stop
        FROM documents
      )
    )
    SELECT component, doc_id, quality_score FROM (
      SELECT c.component, c.doc_id, q.quality_score,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn
      FROM comp c JOIN q USING (doc_id)
    ) WHERE rn = 1
    """,
)
def llm_dedup_keep_best(spark, sf_dir):
    """Near-dup dedup with QUALITY-aware representative selection:
    connected components over the LSH star graph choose the cluster,
    the quality score chooses the survivor (row_number per component,
    score desc, doc_id tiebreak) — the production keep-policy, vs the
    min-id convenience policy of dedup_by_component. One extra shuffle
    (join components with scores) + one window."""
    from pyspark.sql import Window

    from ..llm.cluster import connected_components

    d = _t(spark, sf_dir, "documents")
    comp = connected_components(
        d.select("doc_id"), lsh_star_edges(minhash_from_docs(d))
    )
    scores = ts.with_quality_score(d.select("doc_id", "text")).select(
        "doc_id", "quality_score"
    )
    joined = comp.join(scores, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("component", "doc_id", "quality_score")
    )


@register(
    "llm_repetition_stats",
    """
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_distinct_words AS BIGINT) AS n_distinct_words,
           round(1.0 - n_distinct_words / n_words, 4) AS dup_word_ratio,
           CAST(max_word_count AS BIGINT) AS max_word_count
    FROM (
      SELECT doc_id,
             len(ws) AS n_words,
             len(list_distinct(ws)) AS n_distinct_words,
             (SELECT max(c) FROM (
                SELECT count(*) AS c FROM unnest(ws) AS t(w) GROUP BY w
             )) AS max_word_count
      FROM (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
      )
    ) WHERE n_words > 0
    """,
)
def llm_repetition_stats(spark, sf_dir):
    """Repetition-based quality features (the Gopher-rules shape):
    duplicate-word ratio and the hottest word's count per document —
    high repetition flags boilerplate/spam for pre-training filters.
    Pure column expressions: distinct count via array ops, the max
    word frequency via aggregate over a sorted array (no explode, no
    shuffle — each doc computes locally)."""
    d = _t(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    sorted_ws = F.array_sort(ws)
    # max run length in the sorted array == max word frequency
    run = F.aggregate(
        sorted_ws,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(acc["prev"].isNull() | (acc["prev"] != x), F.lit(1))
            .otherwise(acc["run"] + 1)
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(acc["prev"].isNull() | (acc["prev"] != x), F.lit(1)).otherwise(
                    acc["run"] + 1
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    out = d.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct_words"),
        run.cast("long").alias("max_word_count"),
    ).filter(F.col("n_words") > 0)
    return out.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        F.round(1.0 - F.col("n_distinct_words") / F.col("n_words"), 4).alias(
            "dup_word_ratio"
        ),
        "max_word_count",
    )


@register(
    "llm_minhash_jaccard_estimate",
    f"""
    WITH {SHINGLES_SQL}, {MINHASH_SQL},
    banded AS (
      SELECT doc_id, md5(mh1 || '|' || mh2) AS band_key FROM mh
      UNION ALL
      SELECT doc_id, md5(mh3 || '|' || mh4) AS band_key FROM mh
    ),
    pairs AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM banded l JOIN banded r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
    ),
    est AS (
      SELECT p.a, p.b,
             ((CASE WHEN ma.mh1 = mb.mh1 THEN 1 ELSE 0 END)
            + (CASE WHEN ma.mh2 = mb.mh2 THEN 1 ELSE 0 END)
            + (CASE WHEN ma.mh3 = mb.mh3 THEN 1 ELSE 0 END)
            + (CASE WHEN ma.mh4 = mb.mh4 THEN 1 ELSE 0 END)) / 4.0 AS est_jaccard
      FROM pairs p JOIN mh ma ON ma.doc_id = p.a JOIN mh mb ON mb.doc_id = p.b
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.a, p.b, count(*) AS n_inter
      FROM pairs p
      JOIN sh sa ON sa.doc_id = p.a
      JOIN sh sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle
      GROUP BY p.a, p.b
    )
    SELECT e.a, e.b, round(e.est_jaccard, 4) AS est_jaccard,
           round(i.n_inter / (za.sz + zb.sz - i.n_inter), 4) AS exact_jaccard
    FROM est e
    JOIN inter i ON i.a = e.a AND i.b = e.b
    JOIN sizes za ON za.doc_id = e.a
    JOIN sizes zb ON zb.doc_id = e.b
    """,
)
def llm_minhash_jaccard_estimate(spark, sf_dir):
    """The MinHash ESTIMATOR property made explicit: for every LSH
    candidate pair, the fraction of agreeing signature components
    (an unbiased estimate of Jaccard) next to the exact shingle-set
    Jaccard — the number the whole minhash/banding stack approximates.
    Candidate-bounded: both columns computed only on LSH pairs."""
    d = _t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    sigs = minhash_from_docs(d)
    pairs = lsh_candidate_pairs(sigs)
    ma = sigs.select(
        F.col("doc_id").alias("a"), *[F.col(c).alias(f"a_{c}") for c in ["mh1", "mh2", "mh3", "mh4"]]
    )
    mb = sigs.select(
        F.col("doc_id").alias("b"), *[F.col(c).alias(f"b_{c}") for c in ["mh1", "mh2", "mh3", "mh4"]]
    )
    agree = sum(
        F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1).otherwise(0) for i in range(1, 5)
    )
    est = pairs.join(ma, "a").join(mb, "b").select(
        "a", "b", F.round(agree / 4.0, 4).alias("est_jaccard")
    )
    exact = jaccard_pairs(sh, pairs).select(
        "a", "b", F.col("jaccard").alias("exact_jaccard")
    )
    return est.join(exact, ["a", "b"]).select("a", "b", "est_jaccard", "exact_jaccard")


@register(
    "llm_chunk_dedup_stats",
    """
    SELECT count(*) AS n_chunks,
           count(DISTINCT md5(chunk_text)) AS n_unique_chunks,
           round(1.0 - count(DISTINCT md5(chunk_text)) / count(*), 4) AS chunk_dup_ratio
    FROM (
      SELECT array_to_string(
               list_slice(ws, start, least(start + 19, len(ws))), ' ') AS chunk_text
      FROM (
        SELECT ws, unnest(generate_series(1, greatest(len(ws) - 5, 1), 15)) AS start
        FROM (
          SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
          FROM documents
        )
      )
      WHERE len(list_slice(ws, start, least(start + 19, len(ws)))) > 0
    )
    """,
)
def llm_chunk_dedup_stats(spark, sf_dir):
    """Chunk-level dedup cardinality: after chunking, how much of the
    corpus is repeated chunks (boilerplate shared across documents) —
    the dedup decision moves from document granularity to training-
    sample granularity. Shuffles 16-byte chunk fingerprints, never
    chunk text."""
    from ..llm.prep import chunk_documents

    chunks = chunk_documents(_t(spark, sf_dir, "documents"))
    fp = chunks.select(F.md5("chunk_text").alias("fp"))
    return fp.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("fp").alias("n_unique_chunks"),
        F.round(1.0 - F.countDistinct("fp") / F.count(F.lit(1)), 4).alias(
            "chunk_dup_ratio"
        ),
    )


@register(
    "llm_embedding_centroids",
    """
    SELECT label, CAST(pos - 1 AS INT) AS pos, round(avg(v), 4) + 0 AS mean_val
    FROM (
      SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def llm_embedding_centroids(spark, sf_dir):
    """Per-label embedding centroids in long form (label, dim, mean):
    posexplode -> partial-aggregable avg per (label, dim). Rows scale
    as n x dim — the standard distributed element-wise mean; the
    shuffle carries |labels| x dim partials, not vectors."""
    e = _t(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "v"
        ),
    )
    # `+ 0` normalizes IEEE negative zero (round of a tiny negative
    # mean gives -0.0 in one engine, 0.0 in the other — seen at sf0.001)
    return exploded.groupBy("label", "pos").agg(
        (F.round(F.avg("v"), 4) + F.lit(0.0)).alias("mean_val")
    )


@register(
    "llm_nearest_centroid_accuracy",
    """
    WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (
      SELECT label AS c_label, list(mean_val ORDER BY pos) AS cv FROM (
        SELECT label, pos, avg(v) AS mean_val FROM (
          SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings
        ) GROUP BY label, pos
      ) GROUP BY label
    ),
    scored AS (
      SELECT b.vec_id, b.label,
             (SELECT c.c_label FROM cent c
              ORDER BY list_dot_product(b.v, c.cv)
                       / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                       c.c_label ASC
              LIMIT 1) AS pred
      FROM base b
    )
    SELECT count(*) AS n,
           CAST(sum(CASE WHEN label = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
    FROM scored
    """,
)
def llm_nearest_centroid_accuracy(spark, sf_dir):
    """Nearest-centroid classification, EXACTLY oracle-checked (no
    invariant needed: centroids, cosine, and argmax are all
    deterministic arithmetic both engines can run). Spark shape:
    centroids collected per label (|labels| x dim — tiny), broadcast
    as a cross-joined literal-free dim, per-vector argmax via a
    window; corpus scanned once."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    exploded = e.select("label", F.posexplode("v").alias("pos", "x"))
    cent = (
        exploded.groupBy("label", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col("label").alias("c_label"),
            F.transform("pm", lambda s: s["m"]).alias("cv"),
        )
    )
    from ..llm.similarity import cosine

    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "c_label", cosine(F.col("v"), F.col("cv")).alias("sim")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("c_label").asc())
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("c_label").alias("pred"))
    )
    return pred.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("label") == F.col("pred"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
    )


@register(
    "llm_vector_quantize",
    """
    WITH mm AS (
      SELECT min(v) AS lo, max(v) AS hi FROM (
        SELECT unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings
      )
    ),
    coded AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(least(floor((x - mm.lo) / (mm.hi - mm.lo) * 256), 255)
                         AS BIGINT)
             ) AS codes
      FROM embeddings, mm
      WHERE vec_id < 50
    )
    SELECT vec_id, CAST(i - 1 AS INT) AS dim_idx, codes[i] AS code
    FROM (SELECT vec_id, codes, unnest(generate_series(1, len(codes))) AS i
          FROM coded)
    """,
)
def llm_vector_quantize(spark, sf_dir):
    """int8-range scalar quantization of embeddings (corpus-global
    min/max): 4 bytes/dim -> 1, the standard storage/bandwidth
    compression before ANN at 100 TB. floor (never round) keeps the
    code arithmetic bit-identical across engines; the min/max pass is
    one partial-aggregable scan, applied as broadcast literals. Codes
    are posexploded to (vec_id, dim_idx, code) scalar rows — the
    driver's canonicalizer cannot hash raw array cells (round-3
    lesson from llm_embedding_truncate)."""
    e = _t(spark, sf_dir, "embeddings")
    mm = e.select(F.explode(F.transform("embedding", lambda x: x.cast("double"))).alias("v")).agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    ).first()
    lo, hi = mm.lo, mm.hi
    codes = F.transform(
        F.col("embedding"),
        lambda x: F.least(
            F.floor((x.cast("double") - F.lit(lo)) / F.lit(hi - lo) * 256), F.lit(255.0)
        ).cast("long"),
    )
    return e.filter(F.col("vec_id") < 50).select(
        "vec_id", F.posexplode(codes).alias("dim_idx", "code")
    )


@register(
    "llm_pack_sequences",
    """
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS bin
    FROM c
    """,
)
def llm_pack_sequences(spark, sf_dir):
    """Context-window packing (training-sequence binning): docs in id
    order fill 512-token bins; bin = exclusive running token total //
    budget. The running total is the distributed prefix sum
    (llm/prep.with_running_total, keyed on the integer doc_id), not
    the single-task global window the oracle's `sum() OVER (ORDER BY)`
    implies — same answer, cluster-scalable plan."""
    from ..llm.prep import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), budget=512)


@register(
    "llm_source_mix",
    """
    WITH w AS (
      SELECT doc_id, source,
             ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
            + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) AS bucket,
             CASE CAST(substr(source, 4) AS INT) % 4
               WHEN 0 THEN 65536 WHEN 1 THEN 32768 WHEN 2 THEN 16384 ELSE 8192
             END AS threshold
      FROM documents
    )
    SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids
    FROM w WHERE bucket < threshold GROUP BY source
    """,
)
def llm_source_mix(spark, sf_dir):
    """Data mixing: deterministic per-source down-sampling with weights
    1 / 0.5 / 0.25 / 0.125 by source group (srcN, N mod 4). Keep/drop
    is a pure function of the doc id (16-bit md5 bucket vs weight
    threshold — llm/prep.source_weighted_sample): reproducible across
    runs, engines, and cluster sizes, and any row's fate is auditable.
    Output: per-source kept count + id-sum digest."""
    from ..llm.prep import source_weighted_sample

    d = _t(spark, sf_dir, "documents")
    weight = (
        F.when(F.substring("source", 4, 10).cast("int") % 4 == 0, F.lit(1.0))
        .when(F.substring("source", 4, 10).cast("int") % 4 == 1, F.lit(0.5))
        .when(F.substring("source", 4, 10).cast("int") % 4 == 2, F.lit(0.25))
        .otherwise(F.lit(0.125))
    )
    kept = source_weighted_sample(d, weight)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("sum_kept_ids")
    )


@register(
    "llm_quality_filter_by_lang",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             round((CASE WHEN n_tokens >= 20 THEN 0.4::DOUBLE ELSE 0.0 END)
                 + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10 THEN 0.3::DOUBLE ELSE 0.0 END)
                 + (CASE WHEN n_punct / n_chars_calc <= 0.1 THEN 0.2::DOUBLE ELSE 0.0 END)
                 + (CASE WHEN n_stop > 0 THEN 0.1::DOUBLE ELSE 0.0 END), 4) AS quality_score
      FROM (
        SELECT doc_id, lang,
               length(text) AS n_chars_calc,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
               length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct,
               length(replace(text, ' ', ''))
                 / len(list_filter(string_split(text, ' '), x -> x <> '')) AS mean_word_len,
               {_HITS_SQL["en"]} AS n_stop
        FROM documents
      )
    ),
    ranked AS (
      SELECT doc_id, lang, quality_score,
             percent_rank() OVER (PARTITION BY lang
                                  ORDER BY quality_score, doc_id) AS pr
      FROM scored
    )
    SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids,
           round(min(quality_score), 4) AS min_kept_score
    FROM ranked WHERE pr >= CAST(0.1 AS DOUBLE) GROUP BY lang
    """,
)
def llm_quality_filter_by_lang(spark, sf_dir):
    """Percentile-based quality filtering within each language: drop
    the bottom decile of composite quality score PER LANGUAGE (the
    standard way to quality-filter multilingual pretraining data
    without starving low-resource languages). percent_rank over a
    lang-partitioned window — parallel across languages, no global
    sort; deterministic doc_id tiebreak for oracle parity."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    scored = ts.with_quality_score(d).select("doc_id", "lang", "quality_score")
    w = Window.partitionBy("lang").orderBy("quality_score", "doc_id")
    kept = scored.withColumn("pr", F.percent_rank().over(w)).filter(
        F.col("pr") >= 0.1
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_kept_ids"),
        F.round(F.min("quality_score"), 4).alias("min_kept_score"),
    )


@register(
    "llm_embedding_truncate",
    """
    WITH t AS (
      SELECT vec_id, list_slice(embedding::DOUBLE[], 1, 8) AS v8
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, v8, sqrt(list_dot_product(v8, v8)) AS nrm FROM t
    ),
    e AS (
      SELECT vec_id, v8, nrm,
             unnest(generate_series(1, len(v8))) AS i
      FROM n
    )
    SELECT vec_id,
           CAST(i - 1 AS INT) AS dim_idx,
           round(v8[i] / nrm, 4) + 0 AS unit_val,
           round(nrm, 4) AS trunc_norm
    FROM e
    """,
)
def llm_embedding_truncate(spark, sf_dir):
    """Matryoshka-style embedding truncation: keep the first 8 of 64
    dims and L2-renormalize — the cheap dimension-reduction step used
    to trade recall for cost in vector pipelines. Pure array
    expressions (slice / zip-fold dot / transform), no UDF; `+ 0`
    normalizes IEEE -0.0 identically in both engines. Output is
    posexploded to one (vec_id, dim_idx, unit_val) row per kept
    dimension so every column is a hashable scalar."""
    from ..llm.similarity import _as_double, dot

    e = _t(spark, sf_dir, "embeddings")
    v8 = F.slice(_as_double(F.col("embedding")), 1, 8)
    base = e.select("vec_id", v8.alias("v8"))
    nrm = F.sqrt(dot(F.col("v8"), F.col("v8")))
    base = base.select("vec_id", "v8", nrm.alias("nrm"))
    unit = F.transform(F.col("v8"), lambda x: F.round(x / F.col("nrm"), 4) + 0)
    return base.select(
        "vec_id",
        F.posexplode(unit).alias("dim_idx", "unit_val"),
        F.round("nrm", 4).alias("trunc_norm"),
    )


@register(
    "llm_decontaminate",
    """
    WITH grams AS (
      SELECT doc_id,
             array_to_string(list_slice(ws, i, i + 7), ' ') AS g8
      FROM (
        SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS i
        FROM (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
          FROM documents
        )
      )
    ),
    eval_grams AS (SELECT DISTINCT g8 FROM grams WHERE doc_id < 5),
    contaminated AS (
      SELECT DISTINCT g.doc_id
      FROM grams g JOIN eval_grams e ON g.g8 = e.g8
      WHERE g.doc_id >= 5
    )
    SELECT count(*) AS n_contaminated, CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM contaminated
    """,
)
def llm_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any word
    8-gram with the eval set (doc_id < 5 stands in for a benchmark).
    The eval n-gram set is tiny and BROADCAST into a semi join against
    the corpus n-gram stream — the corpus is never shuffled, flags are
    proportional to true overlaps (the shape that holds when the corpus
    is 100 TB and the benchmark is a few MB)."""
    d = _t(spark, sf_dir, "documents")
    grams = word_ngrams(d, n=8, spread=True)
    eval_g = grams.filter(F.col("doc_id") < 5).select("shingle").distinct()
    hits = (
        grams.filter(F.col("doc_id") >= 5)
        .join(F.broadcast(eval_g), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return hits.agg(
        F.count(F.lit(1)).alias("n_contaminated"),
        F.sum("doc_id").alias("sum_ids"),
    )


@register(
    "llm_unigram_logprob",
    """
    WITH words AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ),
    vocab AS (
      SELECT w, CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM words) AS p
      FROM words GROUP BY w
    )
    SELECT doc_id, round(avg(ln(p)), 4) AS mean_logprob, count(*) AS n_words
    FROM words JOIN vocab USING (w)
    GROUP BY doc_id
    """,
)
def llm_unigram_logprob(spark, sf_dir):
    """Unigram-LM quality scoring: corpus word frequencies -> mean log
    probability per document (the cheap stand-in for model-based
    perplexity filtering; outlier docs score low). Two partial-
    aggregable groupBys + one equi-join on the word; the vocabulary is
    corpus-bounded (not row-bounded), so the join side stays small
    relative to the corpus at any scale."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(ts.words_col(F.col("text"))).alias("w")
    )
    # corpus total as a lazy 1-row broadcast, not an eager .count():
    # keeps the whole scorer one declarative plan
    total = words.agg(F.count(F.lit(1)).cast("double").alias("__total"))
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .crossJoin(F.broadcast(total))
        .select("w", (F.col("__c") / F.col("__total")).alias("p"))
    )
    return (
        words.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.log("p")), 4).alias("mean_logprob"),
            F.count(F.lit(1)).alias("n_words"),
        )
    )
