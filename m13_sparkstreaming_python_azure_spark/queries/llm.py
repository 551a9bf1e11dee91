"""LLM-training-data pipeline queries (north_star in BASELINE.json):
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search,
text analysis — over the documents & embeddings fixtures.

Oracle policy: operators whose semantics are ANSI-SQL-expressible get a
DuckDB twin (text stats, lang-id heuristic, quality score, exact dedup,
n-gram Jaccard, brute-force ANN). Sketch-based operators (MinHash, SimHash,
LSH ANN) depend on Spark's xxhash64 and have no SQL equivalent — the
driver records rows-only checks and tests/ assert their quality properties
(recall vs the exact operators) instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from m13_sparkstreaming_python_azure_spark.catalog import load_table
from m13_sparkstreaming_python_azure_spark.operators import similarity as sim
from m13_sparkstreaming_python_azure_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from m13_sparkstreaming_python_azure_spark.operators.text import (
    with_fingerprint,
    with_lang_id,
    with_quality_score,
    with_text_stats,
)
from m13_sparkstreaming_python_azure_spark.streaming.pipeline import await_query

# DuckDB equivalent of operators.text.tokens(): lowercase, split on
# whitespace, drop empties.
_TOKS_SQL = (
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
)


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ documents(id+100000): a corpus with known exact
    duplicates so dedup queries are non-vacuous (fixture texts are unique)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )


_DOCS_WITH_DUPS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_text_stats(docs).select(
        "doc_id",
        "n_chars_computed",
        "n_tokens",
        "n_bpe_tokens",
        "avg_token_len",
        "uniq_token_ratio",
        "punct_ratio",
        "stopword_ratio",
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_lang_id(docs).select("doc_id", "lang_pred")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_quality_score(docs).select("doc_id", "quality_score", "quality_keep")


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document
    (operators/text.with_readability) — the readability axis of the
    curation suite (text_stats/quality_score measure degeneracy; this
    measures difficulty). Vowel-group syllable proxy, [.!?]+ sentences
    floored at 1, exact BIGINT counts, BIGINT-ratio floats (bit-equal),
    constants mirrored as CAST(… AS DOUBLE) in the oracle."""
    from m13_sparkstreaming_python_azure_spark.operators.text import (
        with_readability,
    )

    docs = load_table(spark, sf_dir, "documents")
    return with_readability(docs).select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        "flesch_score",
        "fk_grade",
    )


def q_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence between each source's token
    distribution P and the rest-of-corpus distribution Q — the
    symmetric, bounded ([0, ln 2]) drift metric a mixture-curation
    pipeline uses to spot sources whose language shifted away from the
    pool (KL alone is asymmetric and infinite on disjoint support).
    JSD = ½·KL(P‖M) + ½·KL(Q‖M), M = ½(P+Q), over the full
    source×vocab grid (absent terms contribute the Q side — skipping
    them understates divergence).

    Determinism contract: p, q are ratios of BIGINT counts; each
    p·ln(p/m) / q·ln(q/m) term quantizes to a 1e-9 BIGINT grid BEFORE
    the per-source sum; the ½ factor and output snap mirror. Scale:
    the grid is |sources|·|vocab| — AFTER a df cap or top-V vocab
    truncation at real scale; here the fixture vocab is tiny."""
    from m13_sparkstreaming_python_azure_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("term"))
    c_st = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    c_t = tok.groupBy("term").agg(F.count(F.lit(1)).alias("ct"))
    n_s = tok.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    n_tot = tok.agg(F.count(F.lit(1)).alias("nt"))
    grid = (
        n_s.crossJoin(F.broadcast(c_t))
        .crossJoin(F.broadcast(n_tot))
        .join(c_st, on=["source", "term"], how="left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    p = F.col("c") / F.col("ns")
    q = (F.col("ct") - F.col("c")) / (F.col("nt") - F.col("ns"))
    m = F.lit(0.5) * (p + q)
    term = F.when(F.col("c") > 0, p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("ct") - F.col("c") > 0, q * F.log(q / m)).otherwise(
        F.lit(0.0)
    )
    t9 = F.floor(term * 1e9 + F.lit(0.5)).cast("long")
    return (
        grid.groupBy("source")
        .agg(
            F.first("ns").alias("n_tokens"),
            F.sum(t9).alias("__s9"),
        )
        .select(
            "source",
            "n_tokens",
            (
                F.floor(
                    (F.lit(0.5) * (F.col("__s9") / F.lit(1e9))) * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("jsd"),
        )
    )


def q_jm_trigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated trigram perplexity per document
    (operators/lm.jm_trigram_logppl, λ = 0.6/0.3/0.1) — one order
    deeper than kn_perplexity; the sharp trigram term pulls templated
    text low while word soup falls to the unigram floor. Exact count
    ratios, mirrored λ literals, 1e-9 ln grid pre-sum."""
    from m13_sparkstreaming_python_azure_spark.operators.lm import (
        jm_trigram_logppl,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return jm_trigram_logppl(docs)


def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity join
    (operators/retrieval.tfidf_cosine_pairs): document pairs sharing
    >= 5 indexed 3-gram shingles with cosine >= 0.35, over a
    stop-term-capped (df <= N/4) inverted index (shingle terms — the
    fixture's unigram vocabulary is ~31 words, which degenerates a
    unigram index toward all-pairs; shingles re-sparsify it) — the weighted near-dup/similarity
    primitive between ngram_jaccard_pairs (unweighted) and
    semantic_dedup (dense embeddings). Posting-list join, never
    doc×doc; 1e-4 BIGINT weight grids make dots and norms exact."""
    from m13_sparkstreaming_python_azure_spark.operators.retrieval import (
        tfidf_cosine_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(docs, shingle_size=3)


def _norm_text_key():
    """Whitespace-normalized lowercased text — the key with_fingerprint
    hashes; the oracle mirrors it with string_split_regex + filter."""
    from m13_sparkstreaming_python_azure_spark.operators.text import tokens

    return F.concat_ws(" ", tokens("text"))


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints (xxhash64 exact key + winnowing-style
    rolling min-hash). The hash VALUES are Spark-specific, so the gate
    hashes the dedup-key STRUCTURE they induce instead (VERDICT r8 #3):
    per doc, the size of its fp_exact group (≡ its normalized-text group
    unless xxhash64 collides — 2⁻⁶⁴) and a flag that the text group
    carries exactly one distinct fp_rolling (equal text ⇒ equal rolling
    fingerprint). A fingerprint regression changes group sizes or splits
    a rolling group and flips the hash."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    fp = with_fingerprint(docs).select(
        "doc_id", "fp_exact", "fp_rolling", "text"
    )
    w_fp = Window.partitionBy("fp_exact")
    w_txt = Window.partitionBy(_norm_text_key())
    return fp.select(
        "doc_id",
        F.count(F.lit(1)).over(w_fp).alias("n_sharing_fp"),
        (
            F.size(F.collect_set("fp_rolling").over(w_txt)) == 1
        ).cast("int").alias("rolling_consistent"),
    )


def q_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = exact_dedup_groups(_docs_with_dups(spark, sf_dir), "doc_id")
    return out.select("n_copies", "keep_id")


def q_exact_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs_with_dups(spark, sf_dir), "doc_id").select("doc_id")


def q_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, exact-Jaccard verified ≥ 0.2.

    Hash-gated since r9 (VERDICT r8 #3): the gate runs the PORTABLE md5
    hash family (operators/dedup._mh_hash), a pure function of the data,
    so the DuckDB oracle replicates the ENTIRE pipeline — seeded shingle
    hashes, per-band bucket keys, the banded candidate self-join, and
    the exact-Jaccard verify — and the pair set matches bit-exactly with
    no recall tolerance. Production keeps the faster xxhash64 family
    (identical plan shape; family-parity pinned in tests)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", shingle_k=3, threshold=0.2, hash_family="md5"
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 of 64). Hash-gated since r9
    (VERDICT r8 #3): the gate runs the portable md5 bit family (bit b =
    nibble b//4 of md5(token), see operators/dedup._simhash_bits_agg),
    so the DuckDB oracle replays signature construction, the 4×16-bit
    pigeonhole chunk buckets, and the exact hamming verify — bit-exact
    pair parity. Production keeps xxhash64; tests pin zero-distance on
    identical docs and chunk-bucket candidate recall."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", max_hamming=3, hash_family="md5")


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", n=3, threshold=0.2, max_doc_freq=50
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (shuffle-free array HOFs)."""
    from m13_sparkstreaming_python_azure_spark.operators.text import (
        with_repetition_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return with_repetition_stats(docs).select(
        "doc_id",
        "n_tokens",
        "dup_word_frac",
        "top_unigram_count",
        "top_bigram_count",
        "top_unigram_frac",
        "top_bigram_frac",
    )


def q_udaf_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via GROUPED_AGG pandas UDFs (SURVEY §2.10 — the
    UDAF surface): value-weighted mean event value per type, one Arrow
    batch per group.

    Hash-gated (VERDICT r8 #3) by making the float fold ORDER-FREE: each
    term quantizes to a BIGINT grid inside the UDF (floor((v*w)*1e4+0.5)
    — the round-5b discipline) and int64 sums are exact in any order, so
    numpy's pairwise summation can no longer diverge from a SQL engine.
    The mean is the IEEE division of the two exact integer sums —
    bit-equal across engines with no tolerance. Prefer JVM expressions
    when they exist — this is the escape hatch for aggregates they
    can't express."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType

    @F.pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def wsum_grid(v: pd.Series, w: pd.Series):
        return int(
            np.floor((v.to_numpy() * w.to_numpy()) * 1e4 + 0.5)
            .astype("int64")
            .sum()
        )

    @F.pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def wnorm_grid(w: pd.Series):
        return int(
            np.floor(w.to_numpy() * 1e4 + 0.5).astype("int64").sum()
        )

    ev = load_table(spark, sf_dir, "events")
    # note: GROUPED_AGG pandas UDFs cannot share an agg() with JVM
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — UDF-only aggregate
    agg = ev.groupBy("event_type").agg(
        wsum_grid(F.col("value"), F.abs(F.col("value"))).alias("wsum_grid"),
        wnorm_grid(F.abs(F.col("value"))).alias("wnorm_grid"),
    )
    return agg.select(
        "event_type",
        "wsum_grid",
        "wnorm_grid",
        F.when(
            F.col("wnorm_grid") > 0,
            F.col("wsum_grid") / F.col("wnorm_grid"),
        ).alias("wmean"),
    )


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-to-cluster step of dedup: documents tripled (two duplicate
    echoes per doc), pair edges generated CHAIN-ONLY per text group (a-b,
    b-c but never a-c) so the operator must recover the full component by
    transitivity, then connected components + survivor selection. Oracle:
    clusters are exactly the text groups (min doc_id wins)."""
    from pyspark.sql import Window

    from m13_sparkstreaming_python_azure_spark.operators.graph import (
        dedup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tripled = (
        docs.unionByName(docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
        .unionByName(docs.select((F.col("doc_id") + 200000).alias("doc_id"), "text"))
    )
    w = Window.partitionBy("text").orderBy("doc_id")
    chain = (
        tripled.select("doc_id", F.lag("doc_id").over(w).alias("prev_id"))
        .filter(F.col("prev_id").isNotNull())
        .select(F.col("prev_id").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    return dedup_clusters(chain, tripled, "doc_id")


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep chunking: 50-token chunks every 40 tokens (10-token
    overlap), pure sequence/slice/explode — no shuffle, no Python."""
    from m13_sparkstreaming_python_azure_spark.operators.chunking import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=50, stride=40)


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep sequence packing: documents sharded by id % 8, each
    shard greedily packed into ~500-token bins by id-ordered cumulative
    token count (contiguous packing — straddling docs keep their starting
    bin). Pure integer window cumsum per shard, no global ordering, no
    Python (operators/chunking.pack_sequences)."""
    from m13_sparkstreaming_python_azure_spark.operators.chunking import (
        pack_sequences,
    )

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=500, n_shards=8)


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split from an md5 prefix —
    engine-independent (any md5 agrees), so the oracle reproduces it
    exactly."""
    from m13_sparkstreaming_python_azure_spark.operators.chunking import (
        hash_split,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_split(docs).select("doc_id", "lang", "hash_prefix", "split")


def q_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k uniform sample per domain (eval-set carving): 5 docs per
    source, ranked by md5(salt:doc_id) — engine-reproducible, exact-count
    (no Bernoulli variance), planned as WindowGroupLimit top-k
    (operators/sampling.sample_exact_per_group)."""
    from m13_sparkstreaming_python_azure_spark.operators.sampling import (
        sample_exact_per_group,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return sample_exact_per_group(docs, ["source"], "doc_id", k=5, salt="s1")


def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling: 50 docs drawn without replacement with
    inclusion odds ∝ n_chars (Efraimidis–Spirakis A-Res keys over md5
    uniforms, TakeOrderedAndProject — no global sort). The selection set
    is deterministic, so it hash-checks; the float sort key itself is
    grid-snapped internally and excluded from the output
    (operators/sampling.weighted_sample_global)."""
    from m13_sparkstreaming_python_azure_spark.operators.sampling import (
        weighted_sample_global,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return weighted_sample_global(docs, "doc_id", "n_chars", k=50).select(
        "doc_id", "source", "n_chars"
    )


def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: resample the corpus toward a uniform source mixture
    with an expected 200 total rows — per-domain keep fractions from one
    tiny count aggregate broadcast back, md5-Bernoulli keep decision
    (operators/sampling.mixture_resample)."""
    from m13_sparkstreaming_python_azure_spark.operators.sampling import (
        mixture_resample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return mixture_resample(docs, "source", 200, "doc_id").select(
        "doc_id", "source"
    )


def q_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity quality filter (CCNet/KenLM pattern, operators/lm.py):
    an add-one unigram model trains on the doc_id%3==0 reference slice
    (one aggregate), every document scores by mean −log p(token) through
    a broadcast model join — OOV tokens take the smoothed unseen mass.
    Per-token log-probs grid-snap at 1e-9 and sum as exact decimal, so
    the oracle reproduces scores bit-for-bit."""
    from m13_sparkstreaming_python_azure_spark.operators.lm import (
        train_unigram_model,
        unigram_logppl,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    model = train_unigram_model(docs.filter(F.col("doc_id") % 3 == 0))
    return unigram_logppl(docs, model)


def q_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based data mixing (share_d ∝ |d|^0.5, expected 300
    rows): the multilingual-pretraining rebalance that upweights small
    domains sublinearly — same tiny count aggregate + md5-Bernoulli keep
    as the uniform mixture (operators/sampling.temperature_resample)."""
    from m13_sparkstreaming_python_azure_spark.operators.sampling import (
        temperature_resample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_resample(docs, "source", 300, "doc_id", tau=0.5).select(
        "doc_id", "source"
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: Okapi BM25 over the corpus for a 3-term query —
    postings pruned by a broadcast term filter BEFORE the explode
    materializes, tiny df/N/avgdl aggregates broadcast back, one
    doc-keyed sum (operators/retrieval.bm25_scores). Score snaps to a
    1e-4 grid (ln is libm-dependent), which the oracle mirrors."""
    from m13_sparkstreaming_python_azure_spark.operators.retrieval import (
        bm25_scores,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_scores(docs, ["hash", "join", "stream"])


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-leakage check: 5-gram collision rate of every document
    against a (deterministic pseudo-)benchmark subset (doc_id ≡ 0 mod 97).
    The benchmark gram set broadcasts; see operators/dedup.py
    contamination_stats for the scale shape."""
    from m13_sparkstreaming_python_azure_spark.operators.dedup import (
        contamination_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return contamination_stats(docs, benchmark, n=5)


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub stage: the fixture corpus carries no PII, so the query
    plants a deterministic email+phone per document, then redacts — the
    md5 of the redacted text plus per-class counts are what the oracle
    hash-checks. operators/text.redact_pii is the general operator."""
    from m13_sparkstreaming_python_azure_spark.operators.text import redact_pii

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return redact_pii(docs).select(
        "doc_id", "n_email", "n_phone", F.md5("redacted").alias("redacted_md5")
    )


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the first 10 vectors as probes."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.brute_force_topk(emb, probes, k=10)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 (scale path). Hash-gated since r9
    (VERDICT r8 #3): the gate runs the portable rademacher-md5 plane
    family with exact-integer sign dots (operators/similarity
    .rademacher_signs), so the DuckDB oracle re-derives the planes from
    md5, replays bucket assignment bit-exactly, and reranks candidates
    with the same rounded cosine — full pipeline parity, no recall
    tolerance. Tests still measure recall vs q_ann_bruteforce."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # bits=4/tables=16: the synthetic embeddings are near-uniform (top
    # neighbors at cosine ~0.3 → ~72°), the hardest case for hyperplane
    # LSH; short codes + more tables keep recall ~0.9. Clustered real
    # embeddings support longer codes (fewer candidates) at same recall.
    return sim.lsh_ann_topk(
        emb,
        probes,
        k=10,
        dim=64,
        bits=4,
        tables=16,
        plane_family="rademacher-md5",
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 (the partition-prunable scale path): sampled
    spherical-kmeans codebook, nprobe-cell candidate join, exact re-rank.
    HASH gate since r10 (VERDICT r9 #4) via the derived-invariant shape
    (operators/similarity.ann_recall_summary): per-query EXACT-top-10
    summaries the oracle replays with DuckDB array SQL, plus the in-gate
    recall invariant (IVF∩exact ≥ 60% — measured 81–82% at sf0.001/0.01)
    pinned by the oracle's literal TRUE. Only the k-means codebook stays
    un-replayed; its output quality is what the invariant gates."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # near-uniform fixture → probe half the cells for usable recall;
    # clustered real embeddings get the same recall at nprobe/n_cells ~ 1/8.
    # r13: one scored cross join feeds both the exact baseline and the IVF
    # membership filter (similarity.ivf_exact_recall_summary) — the exact
    # side scores every pair anyway, so the separate candidate join only
    # re-scanned the corpus and re-scored a subset of the same pairs.
    return sim.ivf_exact_recall_summary(
        emb, probes, k=10, n_cells=16, nprobe=8, floor_pct=60
    )


def q_embedding_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH + exact verify. Threshold
    0.25 — the synthetic fixture has no true near-dups (max non-self cosine
    ≈0.33), so a high threshold would be vacuous. Hash-gated since r9:
    the portable rademacher-md5 planes let the DuckDB oracle replay the
    self-candidate buckets and the rounded-cosine verify bit-exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.embedding_near_dup_pairs(
        emb, threshold=0.25, dim=64, plane_family="rademacher-md5"
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by smoothed TF-IDF — the classic
    relevance weighting as two aggregates (term frequency, document
    frequency) + a WindowGroupLimit top-k; no UDFs, and doc frequency is
    a term-keyed aggregate that broadcasts back (vocabulary ≪ corpus).

    Cross-engine float note: JVM Math.log and C ln disagree by 1 ulp on
    ~9% of inputs, so scores snap to a 1e-4 grid (floor(x*1e4+0.5))
    BEFORE ranking — ordering and hashing only ever see snapped values.
    """
    from m13_sparkstreaming_python_azure_spark.operators.text import tokens
    from m13_sparkstreaming_python_azure_spark.operators.window import (
        topk_per_group,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    term_rows = docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    tf = term_rows.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_counts = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = tf.join(F.broadcast(df_counts), "term").withColumn(
        "score",
        F.floor(
            F.col("tf")
            * F.log(F.lit(float(n_docs + 1)) / (F.col("df") + 1))
            * 1e4
            + F.lit(0.5)
        )
        / 1e4,
    )
    return topk_per_group(
        scored,
        ["doc_id"],
        [F.desc("score"), F.asc("term")],
        k=3,
        keep_rank=False,
    ).select("doc_id", "term", "tf", "df", "score")


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding preprocessing for storage/serving: L2 norm + int8
    quantization (x/‖x‖ × 127, round-half-up), all JVM higher-order
    array functions — no UDF, no shuffle, scan-stage only. The quantized
    vector is emitted as a CSV string so the hash compare covers every
    element. Norm folds dimensions sequentially in doubles —
    bit-identical to DuckDB's list_reduce."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    norm = F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))
    quant = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") / norm * 127 + F.lit(0.5)).cast(
            "int"
        ),
    )
    return emb.select(
        "vec_id",
        (F.floor(norm * 1e6 + F.lit(0.5)) / 1e6).alias("l2_norm"),
        F.concat_ws(",", quant.cast("array<string>")).alias("q8"),
    )


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means assignments (operators/clustering.py):
    k=4 deterministic init (lowest vec_ids), 2 assignment passes with one
    exact-decimal centroid recomputation between them. Oracle = the same
    two iterations unrolled as CTEs over DuckDB list lambdas."""
    from m13_sparkstreaming_python_azure_spark.operators.clustering import (
        kmeans_assignments,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assignments(emb, k=4, iterations=2)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal featurization as a driver-visible HASH gate (r10 —
    VERDICT r9 #3): image rows carry REAL PNG/JPEG payloads encoded by
    the in-repo codecs, and extract_features decodes them for real
    (decode → 32×32 integer luma → block-mean features); audio/video
    rows remain the documented no-codec class on the deterministic
    stub featurizer. The oracle is a live reference recomputation
    (operators/phash_ref.ref_features_rows — scalar arbitrary-precision
    math; PNG rows recomputed from pre-encode pixels, so the gate
    proves the encode→decode roundtrip end-to-end) emitted as a VALUES
    table by oracle_sql(); f0 travels as an exact 1e-6-grid integer
    divided by the double literal 1e6 on both sides."""
    from m13_sparkstreaming_python_azure_spark.operators.multimodal import (
        extract_features,
        synthetic_media_real,
    )

    media = synthetic_media_real(spark, n=300, seed=7)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "payload_bytes",
        "payload_sha256",
        (
            F.floor(
                F.element_at("features", 1).cast("double") * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("f0"),
    )


def _docs_as_media(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """documents reinterpreted as a media-metadata table (deterministic
    geometry/duration from doc fields) so multimodal plumbing queries can
    be oracle-checked against the same parquet the oracle sees."""
    from pyspark.sql.types import BinaryType

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.lit("wav" if kind == "audio" else "png").alias("format"),
        F.lit(None).cast(BinaryType()).alias("payload"),
        (64 + F.col("doc_id") % 128).cast("int").alias("width"),
        (48 + F.col("doc_id") % 96).cast("int").alias("height"),
        (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
    )


def q_multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-window fan-out under the oracle gate: documents as clips
    (duration = n_chars x 10 ms), segmented into 5 s windows every 2.5 s —
    the sequence/explode plumbing is exactly what a real corpus uses, and
    DuckDB's generate_series reproduces it row-for-row."""
    from m13_sparkstreaming_python_azure_spark.operators.multimodal import (
        segment_audio,
    )

    media = _docs_as_media(spark, sf_dir, "audio").filter(F.col("duration_ms") > 0)
    return segment_audio(media, window_ms=5000, hop_ms=2500).select(
        "media_id", "duration_ms", "seg_start_ms", "seg_end_ms"
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize geometry under the oracle gate: per-image scale factors from
    the Arrow-batched resize pipeline (pixel payload stubbed; geometry is
    the testable contract)."""
    from m13_sparkstreaming_python_azure_spark.operators.multimodal import (
        resize_images,
    )

    media = _docs_as_media(spark, sf_dir, "image")
    return resize_images(media, target_width=224, target_height=224).select(
        "media_id", "width", "height", "scale_x", "scale_y"
    )


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling fan-out under the oracle gate: documents as
    clips (duration = n_chars x 10 ms), one row per sampled frame at 1 fps
    — the sequence/explode timestamp plumbing a real corpus uses (only the
    per-frame pixel decode needs a codec; payload stays null here)."""
    from m13_sparkstreaming_python_azure_spark.operators.multimodal import (
        sample_video_frames,
    )

    media = _docs_as_media(spark, sf_dir, "video").filter(
        F.col("duration_ms") > 0
    )
    return sample_video_frames(media, every_ms=1000).select(
        "media_id", "frame_ts_ms"
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation, composed from the individually
    oracled stages: quality gate → exact dedup of survivors → language ID
    → per-language corpus stats (doc count + total tokens). The whole
    pipeline is one Catalyst plan — stages fuse, nothing materializes
    between them."""
    from m13_sparkstreaming_python_azure_spark.operators.dedup import exact_dedup

    docs = _docs_with_dups(spark, sf_dir)
    scored = with_quality_score(docs)
    kept = scored.filter(F.col("quality_keep"))
    survivors = exact_dedup(kept, "doc_id")
    labeled = with_lang_id(survivors)
    return labeled.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def q_domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style URL curation chain (operators/webcuration):
    deterministic synthetic URLs per document (scheme-case, subdomain,
    tld and trailing-slash variety baked in) → normalize_url +
    registered_domain at scan speed → '.io' blocklist via broadcast
    anti-join → at most 2 docs per registered domain, best-first by
    (n_chars DESC, doc_id) through one WindowGroupLimit window. Every
    expression is JVM-side; the oracle mirrors the full chain in SQL."""
    from m13_sparkstreaming_python_azure_spark.operators.webcuration import (
        blocklist_filter,
        extract_host,
        normalize_url,
        per_domain_cap,
        registered_domain,
    )

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://"),
        F.element_at(
            F.array(F.lit("www."), F.lit("cdn."), F.lit("")),
            (did % 3 + 1).cast("int"),
        ),
        F.col("source"),
        (did % 7).cast("string"),
        F.lit("."),
        F.element_at(
            F.array(F.lit("com"), F.lit("org"), F.lit("net"), F.lit("io")),
            (did % 4 + 1).cast("int"),
        ),
        F.lit("/p/"),
        did.cast("string"),
        F.lit("/?utm=x"),
    )
    with_url = docs.select(
        "doc_id",
        "n_chars",
        url.alias("url"),
    ).select(
        "doc_id",
        "n_chars",
        normalize_url(F.col("url")).alias("url_norm"),
        registered_domain(extract_host(F.col("url"))).alias("domain"),
    )
    blocked = with_url.join(
        F.broadcast(
            with_url.filter(F.col("domain").endswith(".io"))
            .select("domain")
            .distinct()
        ),
        on="domain",
        how="left_anti",
    )
    # keep the list-based path exercised too (no-op list)
    blocked = blocklist_filter(blocked, "domain", ["blocked.example"])
    capped = per_domain_cap(
        blocked,
        "domain",
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        cap=2,
    )
    return capped.select("doc_id", "domain", "url_norm")


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup primitive (operators/spans.repeated_spans):
    the corpus is documents plus, for every 5th doc with >= 40 tokens, a
    remix doc made of its tokens 10..39 — so each such pair shares a
    verbatim 30-token span at a known offset. The operator recovers every
    pair's longest shared span from 8-gram diagonal runs (inverted-index
    join + island aggregation, nothing quadratic in the corpus); the
    oracle replays the same construction and island SQL in DuckDB."""
    from m13_sparkstreaming_python_azure_spark.operators.spans import (
        repeated_spans,
    )
    from m13_sparkstreaming_python_azure_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = tokens("text")
    remix = (
        docs.filter((F.col("doc_id") % 5 == 0) & (F.size(t) >= 40))
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat_ws(" ", F.slice(t, 11, 30)).alias("text"),
        )
    )
    corpus = docs.unionByName(remix)
    return repeated_spans(
        corpus, "doc_id", n=8, min_span=25, max_doc_freq=50
    )


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/lm.dsir_resample): a target unigram
    model trains on the English slice, a background model on the whole
    corpus, every document scores by the mean log-likelihood ratio in ONE
    token pass (both models broadcast), and 100 docs are drawn without
    replacement with probability proportional to exp(importance) via the
    deterministic A-Res sampler. The oracle replays model training,
    grid-snapped scoring, and the exact md5-keyed selection."""
    from m13_sparkstreaming_python_azure_spark.operators.lm import (
        dsir_resample,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    target = docs.filter(F.col("lang") == "en")
    out = dsir_resample(docs, target, docs, k=100)
    return out.select("doc_id", "source", "importance")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster-then-prune semantic dedup (operators/similarity.
    semantic_dedup): the corpus is embeddings plus a deterministically
    perturbed copy of every 3rd vector (cosine ~0.99 to its source, so
    near-dup pairs exist by construction), k-means(4) clusters it, and
    within each cluster every vector with a smaller-id neighbor at
    cosine >= 0.95 is dropped. The oracle replays the deterministic
    k-means and the within-cluster prune over DuckDB list lambdas."""
    from m13_sparkstreaming_python_azure_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # perturb FIRST (the lambda must see the ORIGINAL vec_id — aliasing
    # the id in the same select would shadow it), then shift the id
    pert = (
        emb.filter(F.col("vec_id") % 3 == 0)
        .select(
            "vec_id",
            F.transform(
                "v",
                lambda x, i: x
                + F.lit(0.01)
                * ((F.col("vec_id") + i) % 7 - 3).cast("double"),
            ).alias("v"),
        )
        .select((F.col("vec_id") + 100000).alias("vec_id"), "v")
    )
    corpus = emb.unionByName(pert)
    return semantic_dedup(
        corpus, id_col="vec_id", vec_col="v", k=4, iterations=2,
        threshold=0.95,
    )


def q_streaming_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-maintained IVF index (operators/similarity
    .ivf_index_sink): embeddings arrive as a 3-chunk file stream, the
    first batch freezes the codebook, every batch appends cell-pure
    files under an atomic batch_id-guarded manifest commit, and the
    probe (ivf_probe_snapshot) scans ONLY the probed cells' committed
    files. Codebook cells come from numpy k-means (not SQL-replayable);
    the gate hashes the derived-invariant summary instead. Probe parity
    vs an independent recomputation, exactly-once replay, and
    self-rank-1 are pinned in tests/test_ivf_streaming.py."""
    import os
    import tempfile
    import uuid

    from m13_sparkstreaming_python_azure_spark.operators.similarity import (
        ivf_index_sink,
        ivf_probe_snapshot,
    )
    from m13_sparkstreaming_python_azure_spark.sources.filestream import (
        parquet_file_stream,
    )
    from m13_sparkstreaming_python_azure_spark.sources.replay import (
        publish_chunk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="ann-index-")
    land, ck, idx = (os.path.join(root, d) for d in ("land", "ck", "index"))
    chunks = [emb.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    publish_chunk(chunks[0], land)
    stream = parquet_file_stream(spark, land, emb.schema)
    q = (
        stream.writeStream.foreachBatch(ivf_index_sink(idx, n_cells=8))
        .queryName(f"annidx_{uuid.uuid4().hex[:8]}")
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    for ch in chunks[1:]:
        publish_chunk(ch, land)
        q.processAllAvailable()
    q.stop()
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # HASH gate since r10 (VERDICT r9 #4): derived-invariant shape —
    # exact-top-10 summaries replayed by the oracle + the in-gate
    # recall invariant (probe∩exact ≥ 40%; measured 59–70%, nprobe=3/8)
    ann = ivf_probe_snapshot(spark, idx, probes, k=10, nprobe=3)
    from m13_sparkstreaming_python_azure_spark.operators.similarity import (
        ann_recall_summary,
        brute_force_topk,
    )

    exact = brute_force_topk(emb, probes, k=10)
    return ann_recall_summary(
        exact, ann, "cosine_sim", best_is_max=True, floor_pct=40
    )


def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash media near-dup pairs as a driver-visible HASH
    gate (r10 — VERDICT r9 #3): 200 REAL PNG/JPEG images (in-repo
    codecs) decode → 32×32 integer luma → INTEGER-EXACT DCT pHash
    (quantized cosine basis, int64 matmuls — bit-reproducible by any
    implementation), candidates via 4×16-bit pigeonhole buckets, exact
    bit_count(xor) ≤ 3 verify — never a cross join. 20 exact re-uploads
    guarantee work. The oracle is a live reference recomputation
    (operators/phash_ref.ref_phash_pair_rows — brute-force all-pairs
    over scalar arbitrary-precision pHashes, which also re-proves
    pigeonhole candidate completeness; PNG rows recompute from
    pre-encode pixels, proving the codec roundtrip) emitted as a VALUES
    table by oracle_sql(). Invariances (brightness/contrast),
    determinism and pigeonhole completeness also pinned in
    tests/test_phash.py."""
    from m13_sparkstreaming_python_azure_spark.operators.multimodal import (
        perceptual_hash,
        phash_pairs,
        synthetic_media_real,
    )

    from m13_sparkstreaming_python_azure_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        synthetic_speckled_payload,
    )

    media = synthetic_media_real(spark, n=600, seed=7).filter(
        F.col("kind") == "image"
    )
    dupes = media.filter(F.col("media_id") < 60).select(
        (F.col("media_id") + 10_000).alias("media_id"),
        "kind",
        "format",
        "payload",
        "width",
        "height",
        "duration_ms",
    )
    speckled_rows = []
    for j in range(20, 30):
        i = 3 * j
        payload, w, h = synthetic_speckled_payload(i, seed=7)
        speckled_rows.append(
            (i + 20_000, "image", "png", payload, w, h, None)
        )
    speckled = spark.createDataFrame(speckled_rows, MEDIA_SCHEMA)
    return phash_pairs(
        perceptual_hash(media.unionByName(dupes).unionByName(speckled))
    )


def q_quality_prune_floors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality pruning with representation floors: keep each
    source's top half by Gopher-style quality score, but never fewer
    than 20 docs per source — the curation step that trims noisy domains
    without silently erasing small ones (the inverse of domain_curation's
    caps). One window per source (rank + count), integer ceil((n+1)//2),
    deterministic (score DESC, doc_id ASC) tie-break."""
    from m13_sparkstreaming_python_azure_spark.operators.text import (
        with_quality_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = with_quality_score(docs).select(
        "doc_id", "source", "quality_score"
    )
    wg = Window.partitionBy("source")
    wr = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    n = F.count(F.lit(1)).over(wg)
    half = F.floor((n.cast("double") + 1) / 2).cast("bigint")
    ranked = scored.withColumn("rnk", F.row_number().over(wr)).withColumn(
        "__cut", F.greatest(F.lit(20).cast("bigint"), half)
    )
    return ranked.filter(F.col("rnk") <= F.col("__cut")).select(
        "doc_id", "source", "quality_score", "rnk"
    )


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training-data shuffle (operators/sampling
    .epoch_shuffle): md5(epoch:doc_id) drives shard assignment and
    in-shard order, so epoch 1's permutation is reproducible on any
    engine and independent of partition/file layout — and the only wide
    op is the shard-keyed window (8-way parallel), never a global
    sort."""
    from m13_sparkstreaming_python_azure_spark.operators.sampling import (
        epoch_shuffle,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return epoch_shuffle(docs, "doc_id", epoch=1, n_shards=8)


def q_best_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivors (operators/dedup.best_of_dup_groups):
    per content fingerprint keep the LONGEST copy (extraction-length
    heuristic; ties → min doc_id) — the re-crawl with cleaner extraction
    beats the earlier noisy copy that min-id survivorship would keep."""
    from m13_sparkstreaming_python_azure_spark.operators.dedup import (
        best_of_dup_groups,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("score")
    )
    return best_of_dup_groups(docs, "doc_id", "score").select(
        "doc_id", "fp", "score"
    )


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test split (operators/chunking
    .leakage_safe_split): the 90/5/5 assignment hashes the content
    FINGERPRINT, so duplicate texts can never straddle the train/test
    wall (the eval-inflation bug of per-id splits). Row-local
    expressions only — no shuffle; md5 derivation keeps the oracle
    exact."""
    from m13_sparkstreaming_python_azure_spark.operators.chunking import (
        leakage_safe_split,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return leakage_safe_split(docs).select("doc_id", "group_fp", "split")


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining (operators/similarity.hard_negative_mining):
    for each of the first 20 vectors, the 3 most-similar same-label
    positives and 3 most-similar different-label HARD negatives — the
    pairs a contrastive embedding trainer actually learns from. One
    broadcast scoring pass (anchor set is the bounded side), JVM HOF
    cosine with the repo's 1e-6 round, deterministic (sim DESC, id ASC)
    tie-break — hash-matches the DuckDB list_cosine_similarity oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 20)
    return sim.hard_negative_mining(emb, anchors, k_pos=3, k_neg=3)


def q_streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming corpus dedup against ALL history
    (operators/dedup.incremental_dedup_sink): documents replay as three
    atomic chunks — chunk 2 RE-SENDS every doc_id divisible by 7 (a
    re-crawl) — through a foreachBatch sink that keeps only
    never-seen-before content fingerprints (bucket-pruned anti-join
    against the persisted keyed fingerprint table, O(batch) per batch),
    appends survivors to a versioned corpus snapshot, and upserts the
    fingerprints. The final corpus must equal first-arrival dedup: per
    fingerprint, the earliest chunk wins, min doc_id within a chunk —
    which the DuckDB oracle states directly as one window."""
    import os
    import tempfile
    import uuid

    from m13_sparkstreaming_python_azure_spark.operators.dedup import (
        incremental_dedup_sink,
    )
    from m13_sparkstreaming_python_azure_spark.sources.filestream import (
        parquet_file_stream,
    )
    from m13_sparkstreaming_python_azure_spark.sources.replay import (
        publish_chunk,
    )
    from m13_sparkstreaming_python_azure_spark.sources.snapshots import (
        read_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="incdedup-")
    land, ck, corpus, fps = (
        os.path.join(root, d) for d in ("land", "ck", "corpus", "fps")
    )
    chunks = [
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(
            (F.col("doc_id") % 3 == 1) | (F.col("doc_id") % 7 == 0)
        ),
        docs.filter(F.col("doc_id") % 3 == 2),
    ]
    publish_chunk(chunks[0], land)
    stream = parquet_file_stream(spark, land, docs.schema)
    q = (
        stream.writeStream.foreachBatch(
            incremental_dedup_sink(corpus, fps)
        )
        .queryName(f"incdedup_{uuid.uuid4().hex[:8]}")
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    for ch in chunks[1:]:
        publish_chunk(ch, land)
        q.processAllAvailable()
    q.stop()
    return read_snapshot(spark, corpus).select("doc_id", "fp")


def q_streaming_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-duplicate corpus dedup against all history
    (operators/dedup.streaming_minhash_dedup_sink; VERDICT r4 #7):
    documents replay as three id-ordered chunks through a foreachBatch
    sink that LSH-probes each batch's (band, bucket) keys against the
    persisted band index, verifies exact shingle Jaccard ≥ 0.5 on the
    candidates, drops any doc with a verified smaller-id partner, and
    appends survivors to a versioned corpus — O(batch) probes via
    bucket-pruned reads, never O(corpus). The md5-derived hash family
    makes signatures engine-reproducible, so the DuckDB oracle states
    the SAME algorithm (same buckets, same candidates, same survivors)
    over the whole corpus at once — streaming ↔ batch parity for LSH
    dedup, the near-dup analogue of streaming_incremental_dedup."""
    import os
    import tempfile
    import uuid

    from m13_sparkstreaming_python_azure_spark.operators.dedup import (
        streaming_minhash_dedup_sink,
    )
    from m13_sparkstreaming_python_azure_spark.sources.filestream import (
        parquet_file_stream,
    )
    from m13_sparkstreaming_python_azure_spark.sources.replay import (
        publish_chunk,
    )
    from m13_sparkstreaming_python_azure_spark.sources.snapshots import (
        read_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    c1, c2 = max_id // 3, 2 * max_id // 3
    root = tempfile.mkdtemp(prefix="mhdedup-")
    land, ck, corpus, bands, shingles = (
        os.path.join(root, d)
        for d in ("land", "ck", "corpus", "bands", "shingles")
    )
    # id-ordered chunks: "smaller id" == "earlier or same batch", so the
    # streaming pair rule equals the batch pair rule exactly
    chunks = [
        docs.filter(F.col("doc_id") <= c1),
        docs.filter((F.col("doc_id") > c1) & (F.col("doc_id") <= c2)),
        docs.filter(F.col("doc_id") > c2),
    ]
    publish_chunk(chunks[0], land)
    stream = parquet_file_stream(spark, land, docs.schema)
    q = (
        stream.writeStream.foreachBatch(
            streaming_minhash_dedup_sink(corpus, bands, shingles)
        )
        .queryName(f"mhdedup_{uuid.uuid4().hex[:8]}")
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    for ch in chunks[1:]:
        publish_chunk(ch, land)
        q.processAllAvailable()
    q.stop()
    return read_snapshot(spark, corpus).select("doc_id")


def q_model_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based document quality scoring — fastText-shaped linear
    classifier INFERENCE at corpus scale, entirely as JVM expressions:
    tokens hash into D=1024 buckets (hashing trick, md5-derived), each
    bucket carries a frozen weight (md5-derived uniform in [−0.5, 0.5) —
    a deterministic stand-in for trained weights, so the oracle can
    reproduce it; swapping in a real model is a broadcast join against a
    (bucket, weight) table, same plan), the doc score is the
    length-normalized weight sum, and the quality probability is its
    sigmoid. Scale shape: explode(tokens) → map-side partial sum →
    groupBy(doc_id) — one narrow shuffle of (doc_id, BIGINT), no Python,
    no UDF. Weight sums accumulate in integer micros (exact, fold-order
    free); sigmoid snaps 1e-6 (exp boundary)."""
    from m13_sparkstreaming_python_azure_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toked = docs.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    # bucket = md5-hash of token mod 1024; weight_micro = md5-hash of
    # bucket mod 1e6 − 5e5 (uniform in [−0.5, 0.5) at 1e-6 resolution)
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("fh:"), F.col("tok"))), 1, 8), 16, 10)
        .cast("bigint")
        % 1024
    )
    w_micro = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("w:"), bucket.cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 1000000
        - 500000
    )
    agg = toked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(w_micro).alias("sum_w_micro"),
    )
    score = F.col("sum_w_micro") / (F.col("n_tokens") * 1e6)
    sig = F.lit(1.0) / (F.lit(1.0) + F.exp(-score))
    snap6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return agg.select(
        "doc_id",
        "n_tokens",
        "sum_w_micro",
        snap6(sig).alias("quality_prob"),
        (sig >= 0.5).cast("int").alias("keep"),
    )


def q_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity per document
    (operators/lm.kn_bigram_logppl) — the Chen-Goodman smoothing whose
    continuation distribution (how many contexts a word completes, not
    how often it occurs) surfaces templated/boilerplate docs that add-one
    smoothing hides. Self-scored over the documents corpus; exact count
    ratios + 1e-9 ln grid keep it hash-equal."""
    from m13_sparkstreaming_python_azure_spark.operators.lm import (
        kn_bigram_logppl,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return kn_bigram_logppl(docs)


def q_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-token mining via Misra-Gries sketch + exact verification
    (operators/heavy.heavy_hitters_exact): per-partition k=200 counter
    sketches find a candidate superset in one pass — no shuffle of the
    full distinct-token space — and a candidate-restricted second pass
    makes the threshold answer EXACT (n·k > N in integers), so the
    sketch never changes the result, only the cost. The stop-word/
    boilerplate detector every corpus pipeline runs before dedup and
    quality filtering."""
    from m13_sparkstreaming_python_azure_spark.operators.heavy import (
        heavy_hitters_exact,
    )
    from m13_sparkstreaming_python_azure_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(F.explode(tokens("text")).alias("tok"))
    return heavy_hitters_exact(toked, "tok", k=200).select(
        F.col("item").alias("token"), "n"
    )


def q_streaming_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequent tokens computed AS A STREAM — the streaming
    face of ``token_heavy_hitters``: documents replayed as a file-arrival
    stream (multiple forced micro-batches), each batch reduced to its own
    (source, token) partial-count table by foreachBatch
    (streaming/pipeline.write_foreach_batch_counts — per-batch dirs are
    the idempotence unit, counts are additive, merge is groupBy-sum on
    read), then the exact per-source threshold n·100 > N_source applied
    to the merged totals. Must hash-match the one-shot batch SQL —
    streaming↔batch parity for additive-aggregate state. Per-batch
    shuffle is O(distinct tokens in the batch), never O(history)."""
    import os
    import tempfile
    import uuid

    from m13_sparkstreaming_python_azure_spark.operators.text import tokens
    from m13_sparkstreaming_python_azure_spark.sources.filestream import (
        parquet_file_stream,
    )
    from m13_sparkstreaming_python_azure_spark.streaming.pipeline import (
        read_merged_counts,
        write_foreach_batch_counts,
    )

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    root = tempfile.mkdtemp(prefix=f"stream-topk-{uuid.uuid4().hex[:8]}-")
    src, sink, ck = (os.path.join(root, d) for d in ("src", "sink", "ck"))
    docs.repartition(8).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = parquet_file_stream(
        spark, src, schema, max_files_per_trigger=2
    )
    toked = stream.select(
        "source", F.explode(tokens("text")).alias("token")
    )
    q = (
        write_foreach_batch_counts(toked, sink, ck, ["source", "token"])
        .trigger(availableNow=True)
        .start()
    )
    await_query(q)
    counts = read_merged_counts(spark, sink, ["source", "token"])
    w_src = Window.partitionBy("source")
    return counts.select(
        "source", "token", "n", F.sum("n").over(w_src).alias("__total")
    ).filter(F.col("n") * 100 > F.col("__total")).drop("__total")


def q_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured precision/recall of the banded MinHash-LSH candidate
    generator against exact n-gram-Jaccard ground truth — the eval a
    dedup pipeline owes its users before anyone trusts "near-dup rate"
    numbers (banding is a probabilistic filter: s-similar pairs surface
    with prob 1−(1−s^r)^b, so its miss rate is an empirical property to
    MEASURE, not assume). Truth: all pairs with exact 3-gram Jaccard
    ≥ 0.5 via the inverted-index join (no doc-frequency cutoff — truth
    must be complete; at corpus scale you'd keep the cutoff on BOTH
    paths so the comparison stays apples-to-apples). Candidates: the
    md5-derived 16-hash/4-band bucket join (engine-reproducible, so the
    whole evaluation hash-checks). The raw fixture's near-dups are all
    easy (recall 1.0 tells you nothing), so the corpus plants a GRADED
    partial duplicate of every 4th doc — a token-prefix copy dropping
    10–50% of the tail by id — spreading true similarities across the
    banding curve 1−(1−s^r)^b so the measured recall sits strictly
    inside (0, 1). Outputs are counts and ratios of identically-derived
    BIGINTs — exact."""
    from m13_sparkstreaming_python_azure_spark.operators.dedup import (
        md5_minhash_banded,
        ngram_jaccard_pairs,
    )
    from m13_sparkstreaming_python_azure_spark.operators.text import tokens

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = tokens("text")
    drop_pct = 10 + (F.col("doc_id") % 5) * 10
    keep = F.greatest(
        F.lit(3).cast("long"),
        (F.size(t) - F.floor(F.size(t) * drop_pct / 100)).cast("long"),
    )
    partial = base.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(F.slice(t, F.lit(1), keep), " ").alias("text"),
    )
    docs = base.unionByName(partial)
    truth = ngram_jaccard_pairs(
        docs, "doc_id", n=3, threshold=0.5, max_doc_freq=None
    ).select("id_a", "id_b")
    _, banded = md5_minhash_banded(
        docs, "doc_id", num_hashes=16, bands=4, shingle_k=3
    )
    a = banded.select(F.col("__id").alias("id_a"), "bkt")
    b = banded.select(F.col("__id").alias("id_b"), "bkt")
    cand = (
        a.join(b, on="bkt")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    tp = cand.join(truth, on=["id_a", "id_b"])
    stats = (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(tp.agg(F.count(F.lit(1)).alias("n_tp")))
    )
    return stats.select(
        "n_truth",
        "n_candidates",
        "n_tp",
        (F.col("n_tp") / F.col("n_truth")).alias("recall"),
        (F.col("n_tp") / F.col("n_candidates")).alias("precision"),
    )


_LSH_EVAL_SQL = f"""
    WITH raw AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), toks AS (
        SELECT doc_id, t FROM raw
        UNION ALL
        SELECT doc_id + 200000,
               t[1:CAST(greatest(3, len(t)
                   - (len(t) * (10 + (doc_id % 5) * 10)) // 100)
                   AS BIGINT)]
        FROM raw WHERE doc_id % 4 = 0
    ), grams AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, greatest(len(t) - 2, 1) + 1),
                       i -> array_to_string(t[i:i+2], ' ')
                   )) AS gram
            FROM toks WHERE len(t) > 0
        )
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
        FROM grams a JOIN grams b USING (gram)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), truth AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(ni / (sa.n + sb.n - ni), 4) >= 0.5
    ), hi AS (
        SELECT unnest(range(0, 16)) AS i
    ), mh AS (
        SELECT g.doc_id, hi.i,
               min(('0x' || substring(
                   md5(CAST(hi.i AS VARCHAR) || ':' || g.gram), 1, 15
               ))::BIGINT) AS h
        FROM grams g CROSS JOIN hi
        GROUP BY g.doc_id, hi.i
    ), bnd AS (
        SELECT doc_id, i // 4 AS b,
               substring(md5(
                   CAST(i // 4 AS VARCHAR) || ',' ||
                   string_agg(CAST(h AS VARCHAR), ',' ORDER BY i)
               ), 1, 16) AS bkt
        FROM mh GROUP BY doc_id, i // 4
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bnd a JOIN bnd b USING (bkt)
        WHERE a.doc_id < b.doc_id
    ), tp AS (
        SELECT c.id_a FROM cand c JOIN truth t
          ON c.id_a = t.id_a AND c.id_b = t.id_b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM tp) AS n_tp,
           CAST((SELECT count(*) FROM tp) AS DOUBLE)
               / (SELECT count(*) FROM truth) AS recall,
           CAST((SELECT count(*) FROM tp) AS DOUBLE)
               / (SELECT count(*) FROM cand) AS precision
"""


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval — "slow hash batch" as CONSECUTIVE tokens
    (operators/retrieval.phrase_match): positional postings from one
    posexplode pass, pruned to the phrase's terms by a broadcast filter
    before anything corpus-sized materializes, then two adjacency
    equi-joins keyed (doc, pos+i). The positional complement to
    bm25_search's bag-of-words ranking."""
    from m13_sparkstreaming_python_azure_spark.operators.retrieval import (
        phrase_match,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_match(docs, ["slow", "hash", "batch"])


_PHRASE_SQL = r"""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(lower(text), '\s+') AS ts
        FROM documents
    ), raw AS (
        SELECT doc_id, unnest(ts) AS term,
               generate_subscripts(ts, 1) AS ord
        FROM toks
    ), postings AS (
        SELECT doc_id, term,
               row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1
                   AS pos
        FROM raw WHERE term <> ''
    )
    SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_matches
    FROM postings a
    JOIN postings b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    JOIN postings c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    WHERE a.term = 'slow' AND b.term = 'hash' AND c.term = 'batch'
    GROUP BY a.doc_id
"""


LLM_QUERIES = {
    "phrase_search": q_phrase_search,
    "streaming_topk_tokens": q_streaming_topk_tokens,
    "lsh_recall_eval": q_lsh_recall_eval,
    "text_stats": q_text_stats,
    "readability_scores": q_readability,
    "tfidf_cosine_pairs": q_tfidf_cosine_pairs,
    "jm_trigram_perplexity": q_jm_trigram_perplexity,
    "source_jsd": q_source_jsd,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "fingerprints": q_fingerprints,
    "exact_dedup_groups": q_exact_dedup_groups,
    "exact_dedup_survivors": q_exact_dedup_survivors,
    "minhash_dedup_pairs": q_minhash_dedup_pairs,
    "simhash_pairs": q_simhash_pairs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "udaf_weighted_stats": q_udaf_weighted_stats,
    "repetition_stats": q_repetition_stats,
    "near_dup_clusters": q_near_dup_clusters,
    "chunk_documents": q_chunk_documents,
    "sequence_packing": q_sequence_packing,
    "hash_split": q_hash_split,
    "sample_per_source": q_sample_per_source,
    "weighted_sample_docs": q_weighted_sample_docs,
    "mixture_resample": q_mixture_resample,
    "bm25_search": q_bm25_search,
    "temperature_resample": q_temperature_resample,
    "perplexity_scores": q_perplexity_scores,
    "decontamination": q_decontamination,
    "pii_redaction": q_pii_redaction,
    "ann_bruteforce": q_ann_bruteforce,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "embedding_similar_pairs": q_embedding_similar_pairs,
    "embedding_quantize": q_embedding_quantize,
    "kmeans_clusters": q_kmeans_clusters,
    "tfidf_top_terms": q_tfidf_top_terms,
    "multimodal_features": q_multimodal_features,
    "multimodal_audio_segments": q_multimodal_audio_segments,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "multimodal_resize": q_multimodal_resize,
    "curation_pipeline": q_curation_pipeline,
    "domain_curation": q_domain_curation,
    "repeated_spans": q_repeated_spans,
    "dsir_select": q_dsir_select,
    "semantic_dedup": q_semantic_dedup,
    "streaming_incremental_dedup": q_streaming_incremental_dedup,
    "streaming_minhash_dedup": q_streaming_minhash_dedup,
    "model_quality_scores": q_model_quality_scores,
    "token_heavy_hitters": q_token_heavy_hitters,
    "kn_perplexity": q_kn_perplexity,
    "hard_negative_mining": q_hard_negative_mining,
    "leakage_safe_split": q_leakage_safe_split,
    "quality_prune_floors": q_quality_prune_floors,
    "streaming_ann_index": q_streaming_ann_index,
    "multimodal_phash_dedup": q_multimodal_phash_dedup,
    "epoch_shuffle": q_epoch_shuffle,
    "best_quality_survivors": q_best_quality_survivors,
}

_ANN_COSINE_SUMMARY_SQL = """
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 10
    ), scored AS (
        SELECT q.query_id, b.vec_id AS neighbor_id,
               round(list_cosine_similarity(b.embedding::DOUBLE[], q.qv), 6)
                   AS m
        FROM embeddings b CROSS JOIN q
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY m DESC, neighbor_id ASC
        ) AS rank
        FROM scored
    )
    SELECT query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(neighbor_id) AS BIGINT) AS sum_exact_ids,
           min(m) AS kth_cosine_sim,
           TRUE AS recall_ok
    FROM ranked WHERE rank <= 10
    GROUP BY query_id
"""


def multimodal_oracle_values() -> dict[str, str]:
    """Live oracle generation for the two real-codec multimodal gates
    (VERDICT r9 #3): runs the independent scalar reference
    (operators/phash_ref) over the same deterministic fixture and emits
    the expected result as DuckDB VALUES tables. Called LAZILY from
    __spark_entry__.oracle_sql() — never at import time (the reference
    recomputation encodes/decodes ~300 images, a few seconds)."""
    from m13_sparkstreaming_python_azure_spark.operators.phash_ref import (
        ref_features_rows,
        ref_phash_pair_rows,
    )

    frows = ref_features_rows(n=300, seed=7)
    fvals = ",\n".join(
        f"({mid}, '{kind}', {nb}, '{sha}', {f0u})"
        for mid, kind, nb, sha, f0u in frows
    )
    feat_sql = f"""
        SELECT CAST(media_id AS BIGINT) AS media_id,
               kind,
               CAST(payload_bytes AS BIGINT) AS payload_bytes,
               payload_sha256,
               CAST(f0_micros AS BIGINT) / 1e6 AS f0
        FROM (VALUES {fvals})
            AS t(media_id, kind, payload_bytes, payload_sha256, f0_micros)
    """
    prows = ref_phash_pair_rows(n_images=200, seed=7, max_hamming=3)
    pvals = ",\n".join(f"({a}, {b}, {d})" for a, b, d in prows)
    pair_sql = f"""
        SELECT CAST(id_a AS BIGINT) AS id_a,
               CAST(id_b AS BIGINT) AS id_b,
               CAST(hamming AS INT) AS hamming
        FROM (VALUES {pvals}) AS t(id_a, id_b, hamming)
    """
    return {
        "multimodal_features": feat_sql,
        "multimodal_phash_dedup": pair_sql,
    }


_STOP_EN = "['the','a','of','and','to','in','is','that','it','for']"
_STOP_FR = "['le','la','les','de','et','un','une','est','que','pour']"
_STOP_ES = "['el','la','los','de','y','un','una','es','que','por']"
_STOP_DE = "['der','die','das','und','ein','eine','ist','zu','den','von']"

LLM_ORACLES = {
    "phrase_search": _PHRASE_SQL,
    "lsh_recall_eval": _LSH_EVAL_SQL,
    "streaming_topk_tokens": f"""
        WITH toked AS (
            SELECT source, unnest({_TOKS_SQL}) AS token FROM documents
        ), counts AS (
            SELECT source, token, CAST(count(*) AS BIGINT) AS n
            FROM toked GROUP BY source, token
        ), tot AS (
            SELECT source, CAST(sum(n) AS BIGINT) AS total
            FROM counts GROUP BY source
        )
        SELECT c.source, c.token, c.n
        FROM counts c JOIN tot t ON c.source = t.source
        WHERE c.n * 100 > t.total
    """,
    "epoch_shuffle": """
        WITH h AS (
            SELECT doc_id, source,
                   md5('1:' || CAST(doc_id AS VARCHAR)) AS hh
            FROM documents
        ), s AS (
            SELECT doc_id, source, hh,
                   CAST(('0x' || substring(hh, 1, 8))::BIGINT % 8
                        AS INTEGER) AS shard
            FROM h
        )
        SELECT doc_id, source, shard,
               row_number() OVER (
                   PARTITION BY shard ORDER BY hh ASC, doc_id ASC
               ) AS pos_in_shard
        FROM s
    """,
    "best_quality_survivors": """
        WITH fp AS (
            SELECT doc_id, length(text) AS score,
                   ('0x' || substring(md5(text), 1, 15))::BIGINT AS fp
            FROM documents
        ), ranked AS (
            SELECT doc_id, fp, score,
                   row_number() OVER (
                       PARTITION BY fp ORDER BY score DESC, doc_id ASC
                   ) AS rn
            FROM fp
        )
        SELECT doc_id, fp, score FROM ranked WHERE rn = 1
    """,
    "leakage_safe_split": """
        WITH fp AS (
            SELECT doc_id,
                   ('0x' || substring(md5(text), 1, 15))::BIGINT AS group_fp
            FROM documents
        ), h AS (
            SELECT doc_id, group_fp,
                   substr(md5('seed42:' || CAST(group_fp AS VARCHAR)), 1, 4)
                       AS hp
            FROM fp
        )
        SELECT doc_id, group_fp,
               CASE WHEN hp < 'e666' THEN 'train'
                    WHEN hp < 'f333' THEN 'val'
                    ELSE 'test' END AS split
        FROM h
    """,
    "hard_negative_mining": """
        WITH a AS (
            SELECT vec_id AS anchor_id, label AS albl,
                   embedding::DOUBLE[] AS av
            FROM embeddings WHERE vec_id < 20
        ), scored AS (
            SELECT a.anchor_id, b.vec_id AS pair_id,
                   CASE WHEN b.label = a.albl THEN 'pos' ELSE 'neg' END
                       AS pair_type,
                   round(list_cosine_similarity(b.embedding::DOUBLE[], a.av), 6)
                       AS cosine_sim
            FROM embeddings b CROSS JOIN a
            WHERE b.vec_id <> a.anchor_id
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY anchor_id, pair_type
                ORDER BY cosine_sim DESC, pair_id ASC
            ) AS rank
            FROM scored
        )
        SELECT anchor_id, pair_id, pair_type, cosine_sim, rank
        FROM ranked
        WHERE (pair_type = 'pos' AND rank <= 3)
           OR (pair_type = 'neg' AND rank <= 3)
    """,
    "streaming_incremental_dedup": """
        WITH fp AS (
            SELECT doc_id,
                   ('0x' || substring(md5(text), 1, 15))::BIGINT AS fp
            FROM documents
        ), tagged AS (
            SELECT doc_id, fp, 1 AS chunk FROM fp WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id, fp, 2 FROM fp
            WHERE doc_id % 3 = 1 OR doc_id % 7 = 0
            UNION ALL
            SELECT doc_id, fp, 3 FROM fp WHERE doc_id % 3 = 2
        ), ranked AS (
            SELECT doc_id, fp,
                   row_number() OVER (
                       PARTITION BY fp ORDER BY chunk, doc_id
                   ) AS rn
            FROM tagged
        )
        SELECT doc_id, fp FROM ranked WHERE rn = 1
    """,
    # Same ALGORITHM as the streaming sink, stated batch-wide: md5-derived
    # minhash (16 fns, 4 bands × 4 rows), banded candidates, exact-Jaccard
    # verify ≥ 0.5, pair rule "dropped iff a smaller-id verified partner
    # exists". Engine-independent because every hash is md5.
    "streaming_minhash_dedup": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), grams AS (
            SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, greatest(len(t) - 2, 1) + 1),
                           i -> array_to_string(t[i:i+2], ' ')
                       )) AS gram
                FROM toks WHERE len(t) > 0
            )
        ), hi AS (
            SELECT unnest(range(0, 16)) AS i
        ), mh AS (
            SELECT g.doc_id, hi.i,
                   min(('0x' || substring(
                       md5(CAST(hi.i AS VARCHAR) || ':' || g.gram), 1, 15
                   ))::BIGINT) AS h
            FROM grams g CROSS JOIN hi
            GROUP BY g.doc_id, hi.i
        ), bnd AS (
            SELECT doc_id, i // 4 AS b,
                   substring(md5(
                       CAST(i // 4 AS VARCHAR) || ',' ||
                       string_agg(CAST(h AS VARCHAR), ',' ORDER BY i)
                   ), 1, 16) AS bkt
            FROM mh GROUP BY doc_id, i // 4
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bnd a JOIN bnd b USING (bkt)
            WHERE a.doc_id < b.doc_id
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
        ), inter AS (
            SELECT c.id_a, c.id_b, count(*) AS ni
            FROM cand c
            JOIN grams ga ON ga.doc_id = c.id_a
            JOIN grams gb ON gb.doc_id = c.id_b AND gb.gram = ga.gram
            GROUP BY c.id_a, c.id_b
        ), dups AS (
            SELECT DISTINCT i.id_b AS doc_id
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni)
                  >= CAST(0.5 AS DOUBLE)
        )
        SELECT d.doc_id FROM documents d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM dups)
    """,
    "source_jsd": f"""
        WITH tok AS (
            SELECT source, unnest({_TOKS_SQL}) AS term FROM documents
        ), c_st AS (
            SELECT source, term, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY source, term
        ), c_t AS (
            SELECT term, CAST(count(*) AS BIGINT) AS ct
            FROM tok GROUP BY term
        ), n_s AS (
            SELECT source, CAST(count(*) AS BIGINT) AS ns
            FROM tok GROUP BY source
        ), n_tot AS (
            SELECT CAST(count(*) AS BIGINT) AS nt FROM tok
        ), grid AS (
            SELECT s.source, s.ns, t.term, t.ct, n.nt,
                   coalesce(x.c, 0) AS c
            FROM n_s s CROSS JOIN c_t t CROSS JOIN n_tot n
            LEFT JOIN c_st x ON x.source = s.source AND x.term = t.term
        ), scored AS (
            SELECT source, ns,
                   CAST(floor((
                       CASE WHEN c > 0
                            THEN (c / ns) * ln((c / ns)
                                 / (CAST(0.5 AS DOUBLE)
                                    * (c / ns + (ct - c) / (nt - ns))))
                            ELSE CAST(0.0 AS DOUBLE) END
                       + CASE WHEN ct - c > 0
                              THEN ((ct - c) / (nt - ns))
                                   * ln(((ct - c) / (nt - ns))
                                   / (CAST(0.5 AS DOUBLE)
                                      * (c / ns + (ct - c) / (nt - ns))))
                              ELSE CAST(0.0 AS DOUBLE) END
                   ) * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS t9
            FROM grid
        )
        SELECT source,
               CAST(min(ns) AS BIGINT) AS n_tokens,
               floor((CAST(0.5 AS DOUBLE) * (CAST(sum(t9) AS DOUBLE) / 1e9))
                     * 1e6 + 0.5) / 1e6 AS jsd
        FROM scored GROUP BY source
    """,
    "jm_trigram_perplexity": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), tris AS (
            SELECT doc_id, t[i] AS u, t[i + 1] AS v, t[i + 2] AS w
            FROM toks, LATERAL (
                SELECT unnest(range(1, len(t) - 1)) AS i
            )
            WHERE len(t) >= 3
        ), c3 AS (
            SELECT u, v, w, CAST(count(*) AS BIGINT) AS c_uvw
            FROM tris GROUP BY u, v, w
        ), c2ctx AS (
            SELECT u, v, CAST(sum(c_uvw) AS BIGINT) AS c_uv
            FROM c3 GROUP BY u, v
        ), bis AS (
            SELECT t[i] AS v, t[i + 1] AS w
            FROM toks, LATERAL (
                SELECT unnest(range(1, len(t))) AS i
            )
            WHERE len(t) >= 3
        ), c2 AS (
            SELECT v, w, CAST(count(*) AS BIGINT) AS c_vw
            FROM bis GROUP BY v, w
        ), c1 AS (
            SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v
            FROM c2 GROUP BY v
        ), unis AS (
            SELECT unnest(t) AS w FROM toks WHERE len(t) >= 3
        ), cw AS (
            SELECT w, CAST(count(*) AS BIGINT) AS c_w
            FROM unis GROUP BY w
        ), nt AS (
            SELECT CAST(count(*) AS BIGINT) AS n_tot FROM unis
        ), scored AS (
            SELECT t.doc_id,
                   CAST(floor(ln(
                       CAST(0.6 AS DOUBLE) * (a.c_uvw / b.c_uv)
                       + CAST(0.3 AS DOUBLE) * (d.c_vw / e.c_v)
                       + CAST(0.1 AS DOUBLE) * (f.c_w / nt.n_tot)
                   ) * 1e9 + 0.5) AS BIGINT) AS lp9
            FROM tris t
            JOIN c3 a USING (u, v, w)
            JOIN c2ctx b USING (u, v)
            JOIN c2 d USING (v, w)
            JOIN c1 e USING (v)
            JOIN cw f USING (w)
            CROSS JOIN nt
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_trans,
               floor((-CAST(sum(lp9) AS DOUBLE) / 1e9 / count(*)) * 1e6
                     + 0.5) / 1e6 AS jm_logppl
        FROM scored GROUP BY doc_id
    """,
    "kn_perplexity": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), trans AS (
            SELECT doc_id, t[i] AS v, t[i + 1] AS w
            FROM toks, LATERAL (
                SELECT unnest(range(1, len(t))) AS i
            )
            WHERE len(t) >= 2
        ), pairs AS (
            SELECT v, w, CAST(count(*) AS BIGINT) AS c_vw
            FROM trans GROUP BY v, w
        ), ctx AS (
            SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v,
                   CAST(count(*) AS BIGINT) AS n1_fwd
            FROM pairs GROUP BY v
        ), cont AS (
            SELECT w, CAST(count(*) AS BIGINT) AS n1_bwd
            FROM pairs GROUP BY w
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n1_tot FROM pairs
        ), scored AS (
            SELECT t.doc_id,
                   CAST(floor(ln(
                       greatest(p.c_vw - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) / x.c_v
                       + (CAST(0.75 AS DOUBLE) * x.n1_fwd / x.c_v)
                         * (CAST(c.n1_bwd AS DOUBLE) / tot.n1_tot)
                   ) * 1e9 + 0.5) AS BIGINT) AS lp9
            FROM trans t
            JOIN pairs p USING (v, w)
            JOIN ctx x USING (v)
            JOIN cont c USING (w)
            CROSS JOIN tot
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_trans,
               floor((-CAST(sum(lp9) AS DOUBLE) / 1e9 / count(*)) * 1e6
                     + 0.5) / 1e6 AS kn_logppl
        FROM scored GROUP BY doc_id
    """,
    "token_heavy_hitters": f"""
        WITH toked AS (
            SELECT unnest({_TOKS_SQL}) AS token FROM documents
        ), counts AS (
            SELECT token, CAST(count(*) AS BIGINT) AS n
            FROM toked GROUP BY token
        ), tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS total FROM counts
        )
        SELECT token, n FROM counts, tot WHERE n * 200 > total
    """,
    "model_quality_scores": f"""
        WITH toked AS (
            SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
        ), wts AS (
            SELECT doc_id,
                   ('0x' || substring(md5('w:' || CAST(
                       ('0x' || substring(md5('fh:' || tok), 1, 8))::BIGINT
                           % 1024 AS VARCHAR)), 1, 8))::BIGINT
                       % 1000000 - 500000 AS w_micro
            FROM toked
        ), agg AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(w_micro) AS BIGINT) AS sum_w_micro
            FROM wts GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, sum_w_micro,
               floor(1e6 / (1 + exp(-(CAST(sum_w_micro AS DOUBLE)
                                      / (n_tokens * 1e6)))) + 0.5) / 1e6
                   AS quality_prob,
               CAST(1.0 / (1 + exp(-(CAST(sum_w_micro AS DOUBLE)
                                     / (n_tokens * 1e6)))) >= 0.5 AS INT)
                   AS keep
        FROM agg
    """,
    "tfidf_cosine_pairs": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), flat AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                       AS term
            FROM toks WHERE len(t) >= 3
        ), tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM flat GROUP BY doc_id, term
        ), dfx AS (
            SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM tf GROUP BY term
        ), nn AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM documents
        ), posting AS (
            SELECT tf.doc_id, tf.term,
                   CAST(floor(tf.tf * (floor(ln(CAST(nn.n AS DOUBLE)
                        / dfx.df) * 1e6 + 0.5) / 1e6) * 1e4
                        + CAST(0.5 AS DOUBLE)) AS BIGINT) AS qw
            FROM tf JOIN dfx USING (term) CROSS JOIN nn
            WHERE dfx.df <= nn.n * CAST(0.25 AS DOUBLE)
        ), norms AS (
            SELECT doc_id, CAST(sum(qw * qw) AS BIGINT) AS norm2
            FROM posting GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(sum(a.qw * b.qw) AS BIGINT) AS dot,
                   CAST(count(*) AS BIGINT) AS shared_terms
            FROM posting a JOIN posting b
              ON a.term = b.term AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 5
        )
        SELECT p.doc_a, p.doc_b, p.shared_terms,
               floor(p.dot / (sqrt(CAST(na.norm2 AS DOUBLE))
                              * sqrt(CAST(nb.norm2 AS DOUBLE)))
                     * 1e6 + 0.5) / 1e6 AS cosine
        FROM pairs p
        JOIN norms na ON na.doc_id = p.doc_a
        JOIN norms nb ON nb.doc_id = p.doc_b
        WHERE floor(p.dot / (sqrt(CAST(na.norm2 AS DOUBLE))
                             * sqrt(CAST(nb.norm2 AS DOUBLE)))
                    * 1e6 + 0.5) / 1e6 >= CAST(0.35 AS DOUBLE)
    """,
    "readability_scores": """
        WITH c AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(lower(text), '[a-z'']+'))
                        AS BIGINT) AS n_words,
                   greatest(
                       CAST(1 AS BIGINT),
                       CAST(len(regexp_extract_all(text, '[.!?]+'))
                            AS BIGINT)) AS n_sentences,
                   CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                        AS BIGINT) AS n_syllables
            FROM documents
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
               floor((CAST(206.835 AS DOUBLE)
                      - CAST(1.015 AS DOUBLE)
                        * (CAST(n_words AS DOUBLE)
                           / CAST(n_sentences AS DOUBLE))
                      - CAST(84.6 AS DOUBLE)
                        * (CAST(n_syllables AS DOUBLE)
                           / CAST(n_words AS DOUBLE))) * 1e6 + 0.5) / 1e6
                   AS flesch_score,
               floor((CAST(0.39 AS DOUBLE)
                      * (CAST(n_words AS DOUBLE)
                         / CAST(n_sentences AS DOUBLE))
                      + CAST(11.8 AS DOUBLE)
                        * (CAST(n_syllables AS DOUBLE)
                           / CAST(n_words AS DOUBLE))
                      - CAST(15.59 AS DOUBLE)) * 1e6 + 0.5) / 1e6
                   AS fk_grade
        FROM c WHERE n_words >= 1
    """,
    "text_stats": f"""
        WITH toks AS (
            SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents
        )
        SELECT doc_id,
               length(text) AS n_chars_computed,
               len(t) AS n_tokens,
               len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_bpe_tokens,
               round(list_sum(list_transform(t, x -> length(x))) / len(t), 4)
                   AS avg_token_len,
               round(len(list_distinct(t)) / len(t), 4) AS uniq_token_ratio,
               round(len(regexp_extract_all(text, '[^\\w\\s]')) / length(text), 4)
                   AS punct_ratio,
               round(len(list_filter(t, x -> list_contains({_STOP_EN}, x))) / len(t), 4)
                   AS stopword_ratio
        FROM toks
    """,
    "lang_id": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), sc AS (
            SELECT doc_id,
                CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> list_contains({_STOP_DE}, x))) / len(t) ELSE 0 END AS s_de,
                CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> list_contains({_STOP_EN}, x))) / len(t) ELSE 0 END AS s_en,
                CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> list_contains({_STOP_ES}, x))) / len(t) ELSE 0 END AS s_es,
                CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> list_contains({_STOP_FR}, x))) / len(t) ELSE 0 END AS s_fr
            FROM toks
        )
        SELECT doc_id,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                    WHEN s_es >= s_fr THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM sc
    """,
    "quality_score": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), stats AS (
            SELECT doc_id,
                   len(t) AS n_tokens,
                   round(list_sum(list_transform(t, x -> length(x))) / len(t), 4)
                       AS avg_token_len,
                   round(len(list_distinct(t)) / len(t), 4) AS uniq_token_ratio,
                   round(len(list_filter(t, x -> list_contains({_STOP_EN}, x))) / len(t), 4)
                       AS stopword_ratio
            FROM toks
        )
        SELECT doc_id,
               round(0.4 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000
                                  AND avg_token_len >= 2.0 AND avg_token_len <= 12.0
                                 THEN 1 ELSE 0 END)
                   + 0.3 * least(coalesce(uniq_token_ratio, 0.0) * 2, 1.0)
                   + 0.3 * least(coalesce(stopword_ratio, 0.0) * 10, 1.0), 4)
                   AS quality_score,
               (round(0.4 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000
                                   AND avg_token_len >= 2.0 AND avg_token_len <= 12.0
                                  THEN 1 ELSE 0 END)
                   + 0.3 * least(coalesce(uniq_token_ratio, 0.0) * 2, 1.0)
                   + 0.3 * least(coalesce(stopword_ratio, 0.0) * 10, 1.0), 4) >= 0.5)
                   AS quality_keep
        FROM stats
    """,
    "repetition_stats": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), feats AS (
            SELECT doc_id, t, len(t) AS n_tokens,
                   CASE WHEN len(t) > 1 THEN list_transform(
                       generate_series(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i + 1]) END AS bg
            FROM toks
        )
        SELECT doc_id, n_tokens,
               CASE WHEN n_tokens > 0
                    THEN (n_tokens - len(list_distinct(t))) / n_tokens
                    ELSE 0.0 END AS dup_word_frac,
               CASE WHEN n_tokens > 0
                    THEN list_max(list_transform(list_distinct(t),
                         d -> len(list_filter(t, x -> x = d))))
                    ELSE 0 END AS top_unigram_count,
               CASE WHEN n_tokens > 1
                    THEN list_max(list_transform(list_distinct(bg),
                         d -> len(list_filter(bg, x -> x = d))))
                    ELSE 0 END AS top_bigram_count,
               CASE WHEN n_tokens > 0
                    THEN list_max(list_transform(list_distinct(t),
                         d -> len(list_filter(t, x -> x = d)))) / n_tokens
                    ELSE 0.0 END AS top_unigram_frac,
               CASE WHEN n_tokens > 1
                    THEN list_max(list_transform(list_distinct(bg),
                         d -> len(list_filter(bg, x -> x = d)))) / (n_tokens - 1)
                    ELSE 0.0 END AS top_bigram_frac
        FROM feats
    """,
    "exact_dedup_groups": f"""
        WITH all_docs AS ({_DOCS_WITH_DUPS_SQL}),
        norm AS (
            SELECT doc_id,
                   array_to_string({_TOKS_SQL}, ' ') AS nt
            FROM all_docs
        )
        SELECT count(*) AS n_copies, min(doc_id) AS keep_id
        FROM norm GROUP BY nt
    """,
    "exact_dedup_survivors": f"""
        WITH all_docs AS ({_DOCS_WITH_DUPS_SQL}),
        norm AS (
            SELECT doc_id,
                   array_to_string({_TOKS_SQL}, ' ') AS nt
            FROM all_docs
        )
        SELECT doc_id FROM norm
        WHERE doc_id IN (SELECT min(doc_id) FROM norm GROUP BY nt)
    """,
    "pii_redaction": r"""
        WITH aug AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or +1-555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       AS text
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                    AS INT) AS n_email,
               CAST(len(regexp_extract_all(text,
                    '\+?\d[\d-]{6,}\d')) AS INT) AS n_phone,
               md5(regexp_replace(
                    regexp_replace(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                        '<email>', 'g'),
                    '\+?\d[\d-]{6,}\d', '<phone>', 'g')) AS redacted_md5
        FROM aug
    """,
    "decontamination": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), grams AS (
            SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, greatest(len(t) - 4, 1) + 1),
                           i -> array_to_string(t[i:i+4], ' ')
                       )) AS gram
                FROM toks
            )
        ), bench AS (
            SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
        ), sizes AS (
            SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
        ), hits AS (
            SELECT doc_id, count(*) AS n_contaminated FROM grams
            WHERE gram IN (SELECT gram FROM bench)
            GROUP BY doc_id
        )
        SELECT sizes.doc_id, n_grams,
               coalesce(n_contaminated, 0) AS n_contaminated,
               floor(coalesce(n_contaminated, 0) / n_grams * 1e4 + 0.5)
                   / 1e4 AS contamination_ratio
        FROM sizes LEFT JOIN hits ON sizes.doc_id = hits.doc_id
    """,
    # derived-invariant oracles (VERDICT r8 #3)
    # full LSH replication: md5 hash family is engine-independent, so the
    # oracle reruns minhash (64 seeded hashes, b=16 r=4 banding, bucket
    # keys, candidate join, exact-Jaccard verify) — exact pair parity
    "minhash_dedup_pairs": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, sh FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, greatest(len(t) - 2, 1) + 1),
                           i -> array_to_string(t[i:i+2], ' ')
                       )) AS sh
                FROM toks WHERE len(t) > 0
            )
        ), seeds AS (
            SELECT unnest(range(0, 64)) AS i
        ), sigs AS (
            SELECT s.doc_id, sd.i,
                   min(('0x' || substring(
                        md5(CAST(sd.i AS VARCHAR) || ':' || s.sh), 1, 15)
                       )::BIGINT) AS h
            FROM sh s CROSS JOIN seeds sd
            GROUP BY s.doc_id, sd.i
        ), bands AS (
            SELECT doc_id, i // 4 AS band,
                   md5(CAST(i // 4 AS VARCHAR) || '|' ||
                       string_agg(CAST(h AS VARCHAR), ',' ORDER BY i)
                   ) AS bucket
            FROM sigs GROUP BY doc_id, i // 4
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b USING (band, bucket)
            WHERE a.doc_id < b.doc_id
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT c.id_a, c.id_b, count(*) AS ni
            FROM cand c
            JOIN sh a ON a.doc_id = c.id_a
            JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
            GROUP BY c.id_a, c.id_b
        )
        SELECT id_a, id_b,
               round(ni / (sa.n + sb.n - ni), 4) AS jaccard_sim
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(ni / (sa.n + sb.n - ni), 4) >= 0.2
    """,
    # full SimHash replication under the portable md5 bit family: bit b
    # of a token = nibble b//4 of md5(token) >> (3 - b%4); per-doc bits
    # are sign-summed, chunk buckets are md5 of the 16-bit slices, and
    # candidates verify by exact hamming — mirrors operators/dedup
    # _simhash_bits_agg + simhash_pairs(hash_family='md5') verbatim
    "simhash_pairs": f"""
        WITH tok AS (
            SELECT doc_id, unnest({_TOKS_SQL}) AS tk FROM documents
        ), th AS (
            SELECT doc_id, md5(tk) AS h FROM tok
        ), seeds AS (
            SELECT unnest(range(0, 64)) AS i
        ), bitsum AS (
            SELECT doc_id, i,
                   sum((((('0x' || substring(h, 1 + i // 4, 1))::INT)
                         >> (3 - i % 4)) & 1) * 2 - 1) AS s
            FROM th CROSS JOIN seeds
            GROUP BY doc_id, i
        ), sig AS (
            SELECT doc_id,
                   list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY i)
                       AS bits
            FROM bitsum GROUP BY doc_id
        ), chunks AS (
            SELECT doc_id, c,
                   md5(CAST(c AS VARCHAR) || '|' || array_to_string(
                       list_transform(sig.bits[c*16+1 : c*16+16],
                                      b -> CAST(b AS VARCHAR)), ',')
                   ) AS bucket
            FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS c)
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM chunks a JOIN chunks b USING (c, bucket)
            WHERE a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, hamming_dist FROM (
            SELECT c.id_a, c.id_b,
                   CAST(len(list_filter(range(1, 65),
                        j -> sa.bits[j] <> sb.bits[j])) AS INTEGER)
                       AS hamming_dist
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.id_a
            JOIN sig sb ON sb.doc_id = c.id_b
        ) WHERE hamming_dist <= 3
    """,
    "fingerprints": f"""
        WITH keyed AS (
            SELECT doc_id,
                   array_to_string({_TOKS_SQL}, ' ') AS k
            FROM documents
        )
        SELECT doc_id,
               count(*) OVER (PARTITION BY k) AS n_sharing_fp,
               1 AS rolling_consistent
        FROM keyed
    """,
    "udaf_weighted_stats": """
        SELECT event_type,
               CAST(sum(CAST(floor((value * abs(value)) * 1e4 + 0.5)
                             AS BIGINT)) AS BIGINT) AS wsum_grid,
               CAST(sum(CAST(floor(abs(value) * 1e4 + 0.5)
                             AS BIGINT)) AS BIGINT) AS wnorm_grid,
               CASE WHEN sum(CAST(floor(abs(value) * 1e4 + 0.5)
                                  AS BIGINT)) > 0
                    THEN CAST(sum(CAST(floor((value * abs(value)) * 1e4
                                              + 0.5) AS BIGINT))
                              AS DOUBLE)
                         / sum(CAST(floor(abs(value) * 1e4 + 0.5)
                                    AS BIGINT))
               END AS wmean
        FROM events
        GROUP BY event_type
    """,
    "ngram_jaccard_pairs": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), grams AS (
            SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, greatest(len(t) - 2, 1) + 1),
                           i -> array_to_string(t[i:i+2], ' ')
                       )) AS gram
                FROM toks
            )
        ), rare AS (
            SELECT gram FROM grams GROUP BY gram HAVING count(*) <= 50
        ), g2 AS (
            SELECT doc_id, gram FROM grams
            WHERE gram IN (SELECT gram FROM rare)
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM g2 GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
            FROM g2 a JOIN g2 b USING (gram)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               round(ni / (sa.n + sb.n - ni), 4) AS jaccard_sim
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(ni / (sa.n + sb.n - ni), 4) >= 0.2
    """,
    "near_dup_clusters": """
        WITH d AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id + 100000, text FROM documents
            UNION ALL SELECT doc_id + 200000, text FROM documents
        )
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY text) AS cluster_id,
               CAST(doc_id = min(doc_id) OVER (PARTITION BY text)
                    AS INTEGER) AS is_survivor
        FROM d
    """,
    "chunk_documents": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), ex AS (
            SELECT doc_id, t, unnest(range(1, len(t) + 1, 40)) AS start
            FROM toks WHERE len(t) > 0
        )
        SELECT doc_id,
               CAST((start - 1) // 40 AS INTEGER) AS chunk_id,
               array_to_string(t[start:least(start + 49, len(t))], ' ')
                   AS chunk_text,
               CAST(least(start + 49, len(t)) - start + 1 AS INTEGER)
                   AS n_chunk_tokens
        FROM ex
    """,
    "sequence_packing": f"""
        WITH sized AS (
            SELECT doc_id, doc_id % 8 AS shard,
                   CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
            FROM documents
        ), c AS (
            SELECT *, COALESCE(SUM(n_tokens) OVER (
                PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS cum_before
            FROM sized
        )
        SELECT doc_id, shard, n_tokens,
               CAST(floor(cum_before / 500) AS BIGINT) AS bin_id,
               CAST(cum_before % 500 AS BIGINT) AS offset_in_bin
        FROM c
    """,
    "hash_split": """
        WITH h AS (
            SELECT doc_id, lang,
                   substr(md5('seed42:' || CAST(doc_id AS VARCHAR)), 1, 4)
                       AS hash_prefix
            FROM documents
        )
        SELECT doc_id, lang, hash_prefix,
               CASE WHEN hash_prefix < 'e666' THEN 'train'
                    WHEN hash_prefix < 'f333' THEN 'val'
                    ELSE 'test' END AS split
        FROM h
    """,
    "perplexity_scores": f"""
        WITH ref AS (
            SELECT {_TOKS_SQL} AS t FROM documents WHERE doc_id % 3 = 0
        ), ref_toks AS (
            SELECT unnest(t) AS term FROM ref
        ), model AS (
            SELECT term, count(*) AS n FROM ref_toks GROUP BY term
        ), stats AS (
            SELECT CAST(sum(n) AS BIGINT) AS nn, count(*) AS v FROM model
        ), toks AS (
            SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
        ), scored AS (
            SELECT doc_id,
                   floor(ln((COALESCE(m.n, 0) + CAST(1 AS DOUBLE))
                            / (s.nn + s.v + CAST(1 AS DOUBLE)))
                         * 1e9 + CAST(0.5 AS DOUBLE)) / 1e9 AS logp
            FROM toks
            LEFT JOIN model m USING (term)
            CROSS JOIN stats s
        )
        SELECT doc_id, count(*) AS n_tokens,
               -CAST(sum(CAST(logp AS DECIMAL(27,12))) AS DOUBLE) / count(*)
                   AS logppl
        FROM scored GROUP BY doc_id
    """,
    "temperature_resample": """
        WITH c AS (
            SELECT source, count(*) AS n FROM documents GROUP BY source
        ), t AS (
            SELECT sum(pow(CAST(n AS DOUBLE), CAST(0.5 AS DOUBLE))) AS wsum
            FROM c
        ), f AS (
            SELECT source,
                   least(CAST(1 AS DOUBLE),
                         (pow(CAST(n AS DOUBLE), CAST(0.5 AS DOUBLE)) / t.wsum)
                             * CAST(300 AS DOUBLE) / c.n)
                       AS keep_fraction
            FROM c, t
        )
        SELECT d.doc_id, d.source
        FROM documents d JOIN f USING (source)
        WHERE ('0x' || substring(md5('seed42:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                  / CAST(4294967296 AS DOUBLE)
              < f.keep_fraction
    """,
    "bm25_search": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), posting AS (
            SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks
        ), tf AS (
            SELECT doc_id, dl, term, count(*) AS tf FROM posting
            WHERE term IN ('hash', 'join', 'stream')
            GROUP BY doc_id, dl, term
        ), stats AS (
            SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM toks
        ), dft AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), contrib AS (
            SELECT tf.doc_id,
                   ln(CAST(1 AS DOUBLE)
                      + (stats.n_docs - dft.df + CAST(0.5 AS DOUBLE))
                        / (dft.df + CAST(0.5 AS DOUBLE)))
                   * (tf.tf * CAST(2.2 AS DOUBLE))
                   / (tf.tf + CAST(1.2 AS DOUBLE)
                       * (CAST(0.25 AS DOUBLE)
                          + CAST(0.75 AS DOUBLE) * tf.dl / stats.avgdl))
                       AS c
            FROM tf JOIN dft USING (term) CROSS JOIN stats
        )
        SELECT doc_id, floor(sum(c) * 1e4 + CAST(0.5 AS DOUBLE)) / 1e4 AS bm25
        FROM contrib GROUP BY doc_id
    """,
    "sample_per_source": """
        WITH u AS (
            SELECT doc_id, source,
                   ('0x' || substring(md5('s1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       / CAST(4294967296 AS DOUBLE) AS u
            FROM documents
        )
        SELECT doc_id, source, sample_rank FROM (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source ORDER BY u, doc_id
                   ) AS sample_rank
            FROM u
        ) WHERE sample_rank <= 5
    """,
    "weighted_sample_docs": """
        WITH keyed AS (
            SELECT doc_id, source, n_chars,
                   floor(
                       ln(greatest(
                           ('0x' || substring(md5('seed42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                               / CAST(4294967296 AS DOUBLE),
                           CAST(pow(2.0, -33) AS DOUBLE)))
                       / CAST(n_chars AS DOUBLE) * CAST(1e12 AS DOUBLE) + CAST(0.5 AS DOUBLE)
                   ) / 1e12 AS sample_key
            FROM documents
        )
        SELECT doc_id, source, n_chars
        FROM keyed ORDER BY sample_key DESC, doc_id ASC LIMIT 50
    """,
    "mixture_resample": """
        WITH c AS (
            SELECT source, count(*) AS n FROM documents GROUP BY source
        ), nd AS (
            SELECT count(*) AS n_domains FROM c
        ), f AS (
            SELECT source,
                   least(CAST(1 AS DOUBLE),
                         CAST(1 AS DOUBLE) / nd.n_domains * CAST(200 AS DOUBLE) / c.n)
                       AS keep_fraction
            FROM c, nd
        )
        SELECT d.doc_id, d.source
        FROM documents d JOIN f USING (source)
        WHERE ('0x' || substring(md5('seed42:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                  / CAST(4294967296 AS DOUBLE)
              < f.keep_fraction
    """,
    # full LSH-ANN replication (r9): planes re-derived from md5, bucket
    # assignment via the exact int64 quantized sign dot (floor(v*2^20 +
    # 0.5)), rerank with the same rounded cosine as ann_bruteforce
    "ann_lsh": """
        WITH planes AS (
            SELECT t.t, bb.b, j.j,
                   CASE WHEN ('0x' || substring(md5(
                             CAST(t.t AS VARCHAR) || ':' ||
                             CAST(bb.b AS VARCHAR) || ':' ||
                             CAST(j.j AS VARCHAR)), 1, 1))::INT >= 8
                        THEN 1 ELSE -1 END AS w
            FROM (SELECT unnest(range(0, 16)) AS t) t
            CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb
            CROSS JOIN (SELECT unnest(range(0, 64)) AS j) j
        ), vq AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(floor(
                       CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT))
                       AS iv,
                   embedding::DOUBLE[] AS dv
            FROM embeddings
        ), dots AS (
            SELECT v.vec_id, p.t, p.b, sum(v.iv[p.j + 1] * p.w) AS d
            FROM vq v CROSS JOIN planes p
            GROUP BY v.vec_id, p.t, p.b
        ), buckets AS (
            SELECT vec_id, t,
                   sum(CASE WHEN d > 0 THEN 1 << b ELSE 0 END) AS bucket
            FROM dots GROUP BY vec_id, t
        ), cand AS (
            SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS neighbor_id
            FROM buckets q JOIN buckets b USING (t, bucket)
            WHERE q.vec_id < 10
        ), scored AS (
            SELECT c.query_id, c.neighbor_id,
                   round(list_cosine_similarity(bv.dv, qv.dv), 6)
                       AS cosine_sim
            FROM cand c
            JOIN vq bv ON bv.vec_id = c.neighbor_id
            JOIN vq qv ON qv.vec_id = c.query_id
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine_sim DESC, neighbor_id ASC
            ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine_sim, rank
        FROM ranked WHERE rank <= 10
    """,
    # same portable-plane replication, self-join form (bits=8, tables=8)
    "embedding_similar_pairs": """
        WITH planes AS (
            SELECT t.t, bb.b, j.j,
                   CASE WHEN ('0x' || substring(md5(
                             CAST(t.t AS VARCHAR) || ':' ||
                             CAST(bb.b AS VARCHAR) || ':' ||
                             CAST(j.j AS VARCHAR)), 1, 1))::INT >= 8
                        THEN 1 ELSE -1 END AS w
            FROM (SELECT unnest(range(0, 8)) AS t) t
            CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bb
            CROSS JOIN (SELECT unnest(range(0, 64)) AS j) j
        ), vq AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(floor(
                       CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT))
                       AS iv,
                   embedding::DOUBLE[] AS dv
            FROM embeddings
        ), dots AS (
            SELECT v.vec_id, p.t, p.b, sum(v.iv[p.j + 1] * p.w) AS d
            FROM vq v CROSS JOIN planes p
            GROUP BY v.vec_id, p.t, p.b
        ), buckets AS (
            SELECT vec_id, t,
                   sum(CASE WHEN d > 0 THEN 1 << b ELSE 0 END) AS bucket
            FROM dots GROUP BY vec_id, t
        ), cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM buckets a JOIN buckets b USING (t, bucket)
            WHERE a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, cosine_sim FROM (
            SELECT c.id_a, c.id_b,
                   round(list_cosine_similarity(va.dv, vb.dv), 6)
                       AS cosine_sim
            FROM cand c
            JOIN vq va ON va.vec_id = c.id_a
            JOIN vq vb ON vb.vec_id = c.id_b
        ) WHERE cosine_sim >= 0.25
    """,
    "ann_bruteforce": """
        WITH q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id < 10
        ), scored AS (
            SELECT q.query_id, b.vec_id AS neighbor_id,
                   round(list_cosine_similarity(b.embedding::DOUBLE[], q.qv), 6)
                       AS cosine_sim
            FROM embeddings b CROSS JOIN q
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine_sim DESC, neighbor_id ASC
            ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine_sim, rank
        FROM ranked WHERE rank <= 10
    """,
    # derived-invariant ANN oracles (VERDICT r9 #4): exact-top-10
    # summaries replayed in array SQL; recall_ok pinned as literal TRUE
    # (the gate computes the real flag — a recall regression mismatches)
    "ann_ivf": _ANN_COSINE_SUMMARY_SQL,
    "streaming_ann_index": _ANN_COSINE_SUMMARY_SQL,
    "multimodal_frame_sample": """
        SELECT doc_id AS media_id,
               unnest(generate_series(0,
                   greatest(n_chars * 10 - 1, 0), 1000)) AS frame_ts_ms
        FROM documents
        WHERE n_chars * 10 > 0
    """,
    "multimodal_audio_segments": """
        WITH m AS (
            SELECT doc_id AS media_id, n_chars * 10 AS duration_ms
            FROM documents WHERE n_chars > 0
        )
        SELECT media_id, duration_ms,
               unnest(range(0, duration_ms, 2500)) AS seg_start_ms,
               least(unnest(range(0, duration_ms, 2500)) + 5000, duration_ms)
                   AS seg_end_ms
        FROM m
    """,
    "multimodal_resize": """
        SELECT doc_id AS media_id,
               CAST(64 + doc_id % 128 AS INTEGER) AS width,
               CAST(48 + doc_id % 96 AS INTEGER) AS height,
               CAST(224.0 / (64 + doc_id % 128) AS REAL) AS scale_x,
               CAST(224.0 / (48 + doc_id % 96) AS REAL) AS scale_y
        FROM documents
    """,
    "curation_pipeline": f"""
        WITH all_docs AS ({_DOCS_WITH_DUPS_SQL}),
        toks AS (
            SELECT doc_id, text, {_TOKS_SQL} AS t FROM all_docs
        ), stats AS (
            SELECT doc_id, t,
                   len(t) AS n_tokens,
                   round(list_sum(list_transform(t, x -> length(x))) / len(t), 4)
                       AS avg_token_len,
                   round(len(list_distinct(t)) / len(t), 4) AS uniq_token_ratio,
                   round(len(list_filter(t, x -> list_contains({_STOP_EN}, x))) / len(t), 4)
                       AS stopword_ratio
            FROM toks
        ), kept AS (
            SELECT doc_id, t, n_tokens FROM stats
            WHERE round(0.4 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000
                                     AND avg_token_len >= 2.0 AND avg_token_len <= 12.0
                                    THEN 1 ELSE 0 END)
                  + 0.3 * least(coalesce(uniq_token_ratio, 0.0) * 2, 1.0)
                  + 0.3 * least(coalesce(stopword_ratio, 0.0) * 10, 1.0), 4) >= 0.5
        ), norm AS (
            SELECT doc_id, t, n_tokens, array_to_string(t, ' ') AS nt FROM kept
        ), surv AS (
            SELECT doc_id, t, n_tokens FROM norm
            WHERE doc_id IN (SELECT min(doc_id) FROM norm GROUP BY nt)
        ), sc AS (
            SELECT doc_id, n_tokens,
                CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> list_contains({_STOP_DE}, x))) / len(t) ELSE 0 END AS s_de,
                CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> list_contains({_STOP_EN}, x))) / len(t) ELSE 0 END AS s_en,
                CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> list_contains({_STOP_ES}, x))) / len(t) ELSE 0 END AS s_es,
                CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> list_contains({_STOP_FR}, x))) / len(t) ELSE 0 END AS s_fr
            FROM surv
        ), lang AS (
            SELECT doc_id, n_tokens,
                   CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                        WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                        WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                        WHEN s_es >= s_fr THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM sc
        )
        SELECT lang_pred, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM lang GROUP BY lang_pred
    """,
    "tfidf_top_terms": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), term_rows AS (
            SELECT doc_id, unnest(t) AS term FROM toks
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM term_rows GROUP BY doc_id, term
        ), dfc AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), scored AS (
            SELECT doc_id, term, tf, df,
                   floor(tf * ln(((SELECT count(*) + 1 FROM documents))
                                 / (df + 1)) * 1e4 + 0.5) / 1e4 AS score
            FROM tf JOIN dfc USING (term)
        )
        SELECT doc_id, term, tf, df, score FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term ASC
            ) AS rn FROM scored
        ) WHERE rn <= 3
    """,
    "embedding_quantize": """
        SELECT vec_id,
               floor(sqrt(list_reduce(
                   list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   (acc, x) -> acc + x)) * 1e6 + 0.5) / 1e6 AS l2_norm,
               array_to_string(list_transform(embedding,
                   x -> CAST(CAST(floor(CAST(x AS DOUBLE)
                       / sqrt(list_reduce(list_transform(embedding,
                           y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
                           (acc, y) -> acc + y)) * 127 + 0.5)
                       AS INT) AS VARCHAR)), ',') AS q8
        FROM embeddings
    """,
    # two unrolled Lloyd iterations; distances fold dims sequentially in
    # doubles (matches F.aggregate), centroid means are exact decimal
    # sums snapped to a 1e-9 grid (matches operators/clustering.py)
    "kmeans_clusters": """
        WITH vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        c0 AS (
            SELECT vec_id AS cid, v AS c FROM vecs WHERE vec_id < 4
        ),
        a1 AS (
            SELECT vec_id, cid AS cluster, v FROM (
                SELECT vec_id, cid, v, row_number() OVER (
                    PARTITION BY vec_id ORDER BY
                    list_reduce(list_transform(range(1, len(v)+1),
                        i -> (v[i]-c[i])*(v[i]-c[i])), (acc,x) -> acc+x),
                    cid) AS rn
                FROM vecs CROSS JOIN c0
            ) WHERE rn = 1
        ),
        dims1 AS (
            SELECT cluster, t.idx,
                   floor(CAST(sum(CAST(v[t.idx] AS DECIMAL(27,12)))
                              AS DOUBLE) / count(*) * 1e9 + 0.5) / 1e9 AS cv
            FROM a1 CROSS JOIN range(1, 65) t(idx)
            GROUP BY cluster, t.idx
        ),
        cent1 AS (
            SELECT cluster AS cid, list(cv ORDER BY idx) AS c
            FROM dims1 GROUP BY cluster
        )
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cid AS cluster, row_number() OVER (
                PARTITION BY vec_id ORDER BY
                list_reduce(list_transform(range(1, len(v)+1),
                    i -> (v[i]-c[i])*(v[i]-c[i])), (acc,x) -> acc+x),
                cid) AS rn
            FROM vecs CROSS JOIN cent1
        ) WHERE rn = 1
    """,
    "domain_curation": """
        WITH u AS (
            SELECT doc_id, n_chars,
                   'HTTPS://'
                   || ['www.','cdn.',''][CAST(doc_id % 3 AS INT) + 1]
                   || source || CAST(doc_id % 7 AS VARCHAR)
                   || '.'
                   || ['com','org','net','io'][CAST(doc_id % 4 AS INT) + 1]
                   || '/p/' || CAST(doc_id AS VARCHAR) || '/?utm=x' AS url
            FROM documents
        ), c AS (
            SELECT doc_id, n_chars,
                   regexp_replace(regexp_replace(regexp_replace(lower(url),
                       '^[a-z][a-z0-9+.-]*://', ''), '[?#].*$', ''),
                       '/$', '') AS url_norm,
                   regexp_extract(lower(url),
                       '^(?:[a-z][a-z0-9+.-]*://)?([^/:?#]+)', 1) AS host
            FROM u
        ), d AS (
            SELECT doc_id, n_chars, url_norm,
                   CASE WHEN len(string_split(host, '.')) <= 2 THEN host
                        ELSE string_split(host, '.')[-2] || '.'
                             || string_split(host, '.')[-1] END AS domain
            FROM c
        ), e AS (
            SELECT doc_id, domain, url_norm,
                   row_number() OVER (PARTITION BY domain
                       ORDER BY n_chars DESC, doc_id) AS rn
            FROM d
            WHERE domain NOT LIKE '%.io'
        )
        SELECT doc_id, domain, url_norm FROM e WHERE rn <= 2
    """,
    "repeated_spans": """
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS doc_id,
                   array_to_string(t[11:40], ' ') AS text
            FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t FROM documents)
            WHERE doc_id % 5 = 0 AND len(t) >= 40
        ), toks AS (
            SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t FROM corpus
        ), g0 AS (
            SELECT doc_id, i - 1 AS pos,
                   array_to_string(t[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS gram
            FROM toks, unnest(range(1, len(t) - 8 + 2)) AS u(i)
            WHERE len(t) >= 8
        ), rare AS (
            SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= 50
        ), g AS (
            SELECT g0.* FROM g0 SEMI JOIN rare USING (gram)
        ), m AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.pos AS pa, b.pos AS pb, b.pos - a.pos AS diag
            FROM g a JOIN g b USING (gram)
            WHERE a.doc_id < b.doc_id
        ), runs AS (
            SELECT id_a, id_b, diag,
                   pa - row_number() OVER (
                       PARTITION BY id_a, id_b, diag ORDER BY pa) AS grp,
                   pa, pb
            FROM m
        ), islands AS (
            SELECT id_a, id_b,
                   count(*) + 7 AS span_len,
                   min(pa) AS a_start, min(pb) AS b_start
            FROM runs GROUP BY id_a, id_b, diag, grp
        ), best AS (
            SELECT id_a, id_b, span_len, a_start, b_start,
                   row_number() OVER (PARTITION BY id_a, id_b
                       ORDER BY span_len DESC, a_start, b_start) AS rn
            FROM islands
        )
        SELECT id_a, id_b, span_len, a_start, b_start
        FROM best WHERE rn = 1 AND span_len >= 25
    """,
    "dsir_select": f"""
        WITH tm AS (
            SELECT term, count(*) AS n FROM (
                SELECT unnest({_TOKS_SQL}) AS term FROM documents
                WHERE lang = 'en') GROUP BY term
        ), bm AS (
            SELECT term, count(*) AS n FROM (
                SELECT unnest({_TOKS_SQL}) AS term FROM documents)
            GROUP BY term
        ), ts AS (
            SELECT CAST(sum(n) AS BIGINT) AS nn, count(*) AS v FROM tm
        ), bs AS (
            SELECT CAST(sum(n) AS BIGINT) AS nn, count(*) AS v FROM bm
        ), toks AS (
            SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
        ), scored AS (
            SELECT doc_id,
                   floor(ln((COALESCE(tm.n, 0) + CAST(1 AS DOUBLE))
                            / (ts.nn + ts.v + CAST(1 AS DOUBLE)))
                         * 1e9 + CAST(0.5 AS DOUBLE)) / 1e9 AS lpt,
                   floor(ln((COALESCE(bm.n, 0) + CAST(1 AS DOUBLE))
                            / (bs.nn + bs.v + CAST(1 AS DOUBLE)))
                         * 1e9 + CAST(0.5 AS DOUBLE)) / 1e9 AS lpb
            FROM toks
            LEFT JOIN tm USING (term)
            LEFT JOIN bm USING (term)
            CROSS JOIN ts CROSS JOIN bs
        ), imp AS (
            SELECT doc_id,
                   (-CAST(sum(CAST(lpb AS DECIMAL(27,12))) AS DOUBLE) / count(*))
                   - (-CAST(sum(CAST(lpt AS DECIMAL(27,12))) AS DOUBLE) / count(*))
                       AS importance
            FROM scored GROUP BY doc_id
        ), keyed AS (
            SELECT d.doc_id, d.source, i.importance,
                   floor(
                       ln(greatest(
                           ('0x' || substring(md5('seed42:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                               / CAST(4294967296 AS DOUBLE),
                           CAST(pow(2.0, -33) AS DOUBLE)))
                       / greatest(
                           floor(exp(i.importance) * 1e9 + CAST(0.5 AS DOUBLE)) / 1e9,
                           CAST(1e-9 AS DOUBLE))
                       * CAST(1e12 AS DOUBLE) + CAST(0.5 AS DOUBLE)
                   ) / 1e12 AS sample_key
            FROM documents d JOIN imp i USING (doc_id)
        )
        SELECT doc_id, source, importance
        FROM keyed ORDER BY sample_key DESC, doc_id ASC LIMIT 100
    """,
    "semantic_dedup": """
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), vecs AS (
            SELECT vec_id, v FROM base
            UNION ALL
            SELECT vec_id + 100000 AS vec_id,
                   list_transform(range(1, len(v)+1),
                       i -> v[i] + CAST(0.01 AS DOUBLE)
                            * (CAST((vec_id + i - 1) % 7 AS INT) - 3)) AS v
            FROM base WHERE vec_id % 3 = 0
        ),
        c0 AS (
            SELECT vec_id AS cid, v AS c FROM vecs WHERE vec_id < 4
        ),
        a1 AS (
            SELECT vec_id, cid AS cluster, v FROM (
                SELECT vec_id, cid, v, row_number() OVER (
                    PARTITION BY vec_id ORDER BY
                    list_reduce(list_transform(range(1, len(v)+1),
                        i -> (v[i]-c[i])*(v[i]-c[i])), (acc,x) -> acc+x),
                    cid) AS rn
                FROM vecs CROSS JOIN c0
            ) WHERE rn = 1
        ),
        dims1 AS (
            SELECT cluster, t.idx,
                   floor(CAST(sum(CAST(v[t.idx] AS DECIMAL(27,12)))
                              AS DOUBLE) / count(*) * 1e9 + 0.5) / 1e9 AS cv
            FROM a1 CROSS JOIN range(1, 65) t(idx)
            GROUP BY cluster, t.idx
        ),
        cent1 AS (
            SELECT cluster AS cid, list(cv ORDER BY idx) AS c
            FROM dims1 GROUP BY cluster
        ),
        a2 AS (
            SELECT vec_id, cluster, v FROM (
                SELECT vec_id, cid AS cluster, v, row_number() OVER (
                    PARTITION BY vec_id ORDER BY
                    list_reduce(list_transform(range(1, len(v)+1),
                        i -> (v[i]-c[i])*(v[i]-c[i])), (acc,x) -> acc+x),
                    cid) AS rn
                FROM vecs CROSS JOIN cent1
            ) WHERE rn = 1
        ),
        dropped AS (
            SELECT DISTINCT b.vec_id
            FROM a2 a JOIN a2 b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95
        )
        SELECT a2.vec_id, a2.cluster,
               d.vec_id IS NULL AS kept
        FROM a2 LEFT JOIN dropped d USING (vec_id)
    """,
}

# composed oracle: reuses the quality_score SQL verbatim as a CTE, so the
# pruning gate can never drift from the scoring gate
LLM_ORACLES["quality_prune_floors"] = f"""
    WITH scored AS ({LLM_ORACLES["quality_score"]}),
    s AS (
        SELECT d.doc_id, d.source, sc.quality_score
        FROM documents d JOIN scored sc USING (doc_id)
    ), ranked AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY quality_score DESC, doc_id ASC
               ) AS rnk,
               count(*) OVER (PARTITION BY source) AS n
        FROM s
    )
    SELECT doc_id, source, quality_score, rnk
    FROM ranked
    WHERE rnk <= greatest(20, (n + 1) // 2)
"""
