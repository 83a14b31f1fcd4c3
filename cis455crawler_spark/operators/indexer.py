"""Inverted-index build with the reference's (bug-compatible) tf-idf rank.

The reference's whole map/spool/sort/reduce pipeline
(/root/reference/Indexer/src/edu/upenn/cis455/mapreduce/...) collapses into
one shuffle-bounded DataFrame DAG:

    docs -> tokenize -> explode -> groupBy(doc,word).count        [O-A1]
         -> window max tf per doc; groupBy(word)+join for df      [O-A2]
         -> rank columns                                          [O-A3]

The per-word rank-desc parallel lists (O-A4, WordIndexEntity's shape in
FileManagement.java:429-446) are one groupBy(word) + array_sort over
collect_list; the driver entry `postings_assembly` builds them.

Rank formula (Indexer.java reduce, :212-232), bug-compatible when
bug_compatible=True — NOTE the asymmetry in the Java:
    tf' = 0.5 + 0.5 * tf / maxFreq      REAL division: `0.5 * int` promotes
                                        to double before the divide (:218-219)
    idf = ln(100000 DIV df)             INT division: `100000 / values.length`
                                        is int/int -> floored (:220-221)
    rank = 0.5*tf'*idf + 0.3*isTitle + 0.2*isMeta   (:222-224)
With bug_compatible=False both divisions are real-valued (the sane formula).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import remove_stopwords, tokenize

IDF_CORPUS = 100_000  # Indexer.java:222
W_TFIDF, W_TITLE, W_META = 0.5, 0.3, 0.2  # Indexer.java:224-226


def postings(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    title_col: str | None = None,
    meta_col: str | None = None,
    bug_compatible: bool = True,
    lemmatize: bool = False,
) -> DataFrame:
    """(doc_id, word, tf, max_tf, df, is_title, is_meta, rank) — the exploded
    relational index (Spark-preferred form of WordIndexEntity).

    lemmatize=True folds regular inflections with functions.text.lemma_lite —
    an approximation of the reference's StanfordCoreNLP lemmatization
    (FileManagement.java:68-72; exact parity needs its model jars)."""
    from ..functions.text import lemmatize_tokens

    def norm(tokens):
        return lemmatize_tokens(tokens) if lemmatize else tokens

    toks = docs.select(
        F.col(doc_col).alias("doc_id"),
        F.explode(norm(remove_stopwords(tokenize(F.col(text_col))))).alias("word"),
        *(
            [F.lower(F.col(title_col)).alias("_title")] if title_col else []
        ),
        *([F.lower(F.col(meta_col)).alias("_meta")] if meta_col else []),
    )
    tf = toks.groupBy(
        "doc_id",
        "word",
        *(["_title"] if title_col else []),
        *(["_meta"] if meta_col else []),
    ).agg(F.count("*").alias("tf"))

    # max_tf: doc-keyed window is safe (a doc's vocabulary is bounded).
    # df: NEVER a word-keyed window — a hot term outside the stoplist would
    # put its whole postings list in one window task at corpus scale. The
    # groupBy has map-side partial aggregation (hot key collapses per
    # partition) and AQE skew-join splits any residue in the join-back.
    w_doc = Window.partitionBy("doc_id")
    df_by_word = tf.groupBy("word").agg(F.count("*").alias("df"))
    out = tf.withColumn("max_tf", F.max("tf").over(w_doc)).join(df_by_word, "word")
    # titleValues/metaValues membership is TOKEN membership in the reference
    # mapper (Indexer.java:190-205 keeps word sets), not substring containment
    is_title = (
        F.when(F.array_contains(norm(tokenize(F.col("_title"))), F.col("word")), 1).otherwise(0)
        if title_col
        else F.lit(0)
    )
    is_meta = (
        F.when(F.array_contains(norm(tokenize(F.col("_meta"))), F.col("word")), 1).otherwise(0)
        if meta_col
        else F.lit(0)
    )
    out = out.withColumn("is_title", is_title).withColumn("is_meta", is_meta)

    if bug_compatible:
        # tf' divides REAL (Java promotes 0.5*tf to double before dividing);
        # only the idf corpus constant divides integer — see module docstring
        tf_prime = 0.5 + 0.5 * F.col("tf") / F.col("max_tf")
        idf = F.log(F.floor(F.lit(IDF_CORPUS) / F.col("df")).cast("double"))
    else:
        tf_prime = 0.5 + 0.5 * (F.col("tf") / F.col("max_tf"))
        idf = F.log(F.lit(float(IDF_CORPUS)) / F.col("df"))
    out = out.withColumn(
        "rank",
        F.lit(W_TFIDF) * tf_prime * idf
        + F.lit(W_TITLE) * F.col("is_title")
        + F.lit(W_META) * F.col("is_meta"),
    )
    return out.select("doc_id", "word", "tf", "max_tf", "df", "is_title", "is_meta", "rank")


def bm25_postings(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(doc_id, word, tf, dl, df, score) — Okapi BM25 over the same token
    stream as postings(). Beyond the reference (its Indexer.java:212-232 rank
    is the bug-compatible tf-idf above); BM25 is the standard serve-path
    scorer a crawl->index user would expect next to it.

        idf(w)    = ln(1 + (N - df + 0.5) / (df + 0.5))
        score(w,d)= idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Shuffle shape matches postings(): one groupBy(doc,word) for tf, then a
    doc_id window for dl and a skew-proof groupBy(word)+join for df. The two
    corpus scalars (N docs, avg doc length) ride in on a broadcast 1-row
    crossJoin (the crawl plan's stats-fusion pattern), keeping this a single
    DAG with no driver-side collect. NOTE the scalar aggregate re-derives the
    tf lineage (PLANS.md shows the second scan): when the tokenize pass is
    the bottleneck at corpus scale, persist docs (or the tf stage) upstream —
    an in-operator cache would leak past the caller's lifecycle."""
    toks = docs.select(
        F.col(doc_col).alias("doc_id"),
        F.explode(remove_stopwords(tokenize(F.col(text_col)))).alias("word"),
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    # dl via the doc window (bounded per doc); df via groupBy + join-back —
    # a word-keyed window would serialize a hot term into one task (see
    # postings() above and index_layout.py's module docstring).
    w_doc = Window.partitionBy("doc_id")
    df_by_word = tf.groupBy("word").agg(F.count("*").alias("df"))
    out = tf.withColumn("dl", F.sum("tf").over(w_doc)).join(df_by_word, "word")
    # corpus scalars: 1 row, broadcast crossJoin keeps the plan collect-free
    corpus = out.groupBy().agg(
        F.countDistinct("doc_id").alias("n_docs"),
        (F.sum("tf") / F.countDistinct("doc_id")).alias("avgdl"),
    )
    out = out.crossJoin(F.broadcast(corpus))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    score = idf * F.col("tf") * (k1 + 1.0) / denom
    return out.select("doc_id", "word", "tf", "dl", "df", score.alias("score"))
