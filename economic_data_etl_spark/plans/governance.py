"""Data-governance queries: erasure propagation ("right to be
forgotten" / license revocation) through the standing indexes.

When a source revokes its license, deleting its rows from the corpus
is the easy half — every STANDING index (inverted postings, positional
postings, doc-length tables) still carries the revoked documents and
keeps serving them. These queries certify the erasure path: anti-join
the revoked doc set out of each index layout and prove the served
results equal a FROM-SCRATCH rebuild on the reduced corpus (the
oracle). BM25 is the sharp case: its corpus statistics (n_docs, avgdl,
per-term df) shift when documents leave, so a lazy erasure that only
hides rows at serve time would score every survivor wrong — the green
row proves the index layout is erasure-exact, not just
membership-exact.

Round 12 extends the lane to EVERY standing index the engine
maintains: the SemDeDup cluster assignments + pairs and the pHash
fingerprints + pairs (pure anti-join erasure — with frozen
centroids/hashes each pair depends only on its endpoints, so the
anti-join is rebuild-exact), and the two indexes where erasure must
REASSIGN state to survivors: the substring gram index (a revoked doc
can BE a gram's retained first occurrence — the first moves to the
earliest surviving occurrence and that doc's spans are recomputed)
and the crawl-frontier seen-set (a canonical's first_doc moves to the
earliest surviving page, or leaves the seen-set so a re-crawl
re-fetches).

Scale shape: the revoked set is doc-keyed; anti-join erasure is one
(broadcastable) anti-join per index table. The reassignment lanes add
one surviving-corpus occurrence pass SEMI-JOINED to the affected
key set (grams / canonicals whose first is revoked — small when
revocations are small) plus re-processing of only the docs that own a
new first. Nothing else rebuilds, nothing else re-tokenizes.

Out of scope BY CONSTRUCTION: the lossy sketches (KMV, CMS, KLL,
Bloom, HLL, heavy hitters) cannot delete — a sketch retains no
per-doc rows to anti-join, and subtracting a contribution is
information-theoretically impossible for most of them. Their erasure
path is a REFIT from the reduced corpus (cheap: each is one linear
pass producing KB of state), which is exactly what their incremental
twins already do when pointed at the reduced stream. Stated here so
nobody mistakes the standing-INDEX guarantee for a standing-SKETCH
one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from economic_data_etl_spark.plans.catalog import biased_round, register
from economic_data_etl_spark.plans.crawlq import _CANON_CTES
from economic_data_etl_spark.plans.lmppl import oracle_sql as _lm_oracle
from economic_data_etl_spark.sources.tables import load_table

_REVOKED_SOURCE = "src2"
_ERA_TERMS = ("stream", "batch", "window")
_ERA_TAU = 0.8
_ERA_PHRASE = ("stream", "table", "hash")

# Semantic-erasure fixture: same clustering constants as the SemDeDup
# queries (plans/curation.py) so the frozen-centroid contract is the
# one the standing index was actually built with.
_GSEM_K = 8
_GSEM_DOCS_PER_CLUSTER = 250
_GSEM_TAU = 0.4
_GSEM_PROBES = 3
_GSEM_REVOKED_MOD = 10
_GSEM_REVOKED_REM = 3

# Substring-erasure fixture: same k as the substring-dedup queries.
# Revoked source chosen so FIRST-OCCURRENCE REASSIGNMENT actually
# fires on the synthetic corpus: src2's duplicated grams are all
# intra-source (zero reassignable), while ~140 (sf0.001) / ~80
# (sf0.01) grams have their retained first in src10 and surviving
# occurrences elsewhere — the sharp path is exercised, not vacuous.
_GSUB_K = 20
_GSUB_REVOKED_SOURCE = "src10"


@register(
    "governance_erasure_bm25",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                             x -> x <> '') AS w
          FROM documents WHERE source <> '{_REVOKED_SOURCE}'
        ), ex AS (
          SELECT doc_id, unnest(w) AS token FROM toks
        ), dl AS (
          SELECT doc_id, len(w) AS dl FROM toks
        ), stats AS (
          SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
        ), tf AS (
          SELECT doc_id, token, COUNT(*) AS tf FROM ex
          WHERE token IN {_ERA_TERMS!r}
          GROUP BY 1, 2
        ), df AS (
          SELECT token, COUNT(DISTINCT doc_id) AS df FROM ex
          WHERE token IN {_ERA_TERMS!r}
          GROUP BY token
        ), sc AS (
          SELECT t.doc_id,
                 ROUND(5e-10 + SUM(
                     ln(1.0 + ((SELECT n_docs FROM stats) - d.df + 0.5)
                              / (d.df + 0.5))
                     * t.tf * {1.2 + 1.0}
                     / (t.tf + 1.2 * (1 - 0.75
                          + 0.75 * l.dl / (SELECT avgdl FROM stats)))
                 ), 4) AS score
          FROM tf t JOIN df d USING (token) JOIN dl l USING (doc_id)
          GROUP BY t.doc_id
        )
        SELECT doc_id, score,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                    AS INT) AS rank
        FROM sc
        WHERE score >= {_ERA_TAU}
        ORDER BY rank
    """,
    doc="Erasure propagation through the standing BM25 index "
    f"(license revocation of source {_REVOKED_SOURCE!r}): the inverted "
    "index is built from the FULL corpus, the revoked doc set is "
    "anti-joined out of BOTH index tables (postings and doc lengths), "
    "and the query is served from the erased index. The oracle is the "
    "from-scratch BM25 over the reduced corpus — green proves the "
    "erasure is EXACT, including the corpus statistics (n_docs, "
    "avgdl, df) that shift when documents leave; a serve-time "
    "hide-the-rows shortcut would score every survivor wrong. One "
    "doc-keyed anti-join per index table, no re-tokenization.",
)
def governance_erasure_bm25(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.retrieval import (
        bm25_from_index,
        build_postings,
    )

    docs = load_table(spark, sf_dir, "documents")
    postings, doclens = build_postings(docs)
    revoked = docs.filter(
        F.col("source") == _REVOKED_SOURCE
    ).select("doc_id")
    postings_e = postings.join(revoked, "doc_id", "left_anti")
    doclens_e = doclens.join(revoked, "doc_id", "left_anti")
    scored = bm25_from_index(
        postings_e, doclens_e, list(_ERA_TERMS)
    ).select("doc_id", biased_round(F.col("score")).alias("score"))
    kept = scored.filter(F.col("score") >= _ERA_TAU)
    rank = F.row_number().over(
        Window.orderBy(F.desc("score"), F.asc("doc_id"))
    )
    return kept.select(
        "doc_id", "score", rank.cast("int").alias("rank")
    ).orderBy("rank")


@register(
    "governance_erasure_phrase",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                             x -> x <> '') AS w
          FROM documents WHERE source <> '{_REVOKED_SOURCE}'
        ), g0 AS (
          SELECT doc_id, w,
                 unnest(CASE WHEN len(w) >= 1
                             THEN generate_series(1, len(w))
                             ELSE [] END) AS i
          FROM toks
        ), ex AS (
          SELECT doc_id, i - 1 AS pos, w[i] AS token FROM g0
        ), ph AS (
          SELECT * FROM (VALUES {", ".join(f"({i}, '{t}')" for i, t in enumerate(_ERA_PHRASE))})
                 AS p(off, term)
        ), cand AS (
          SELECT e.doc_id, e.pos - p.off AS start, p.off
          FROM ex e JOIN ph p ON e.token = p.term
        ), occ AS (
          SELECT doc_id, start FROM cand
          WHERE start >= 0
          GROUP BY doc_id, start
          HAVING COUNT(DISTINCT off) = {len(_ERA_PHRASE)}
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_matches,
               CAST(MIN(start) AS BIGINT) AS first_pos
        FROM occ
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    doc="Erasure propagation through the standing POSITIONAL index: "
    f"the (doc, token, pos) layout is built from the full corpus, "
    f"source {_REVOKED_SOURCE!r}'s docs are anti-joined out, and the "
    f"phrase query {' '.join(_ERA_PHRASE)!r} is served from the "
    "erased postings. Oracle = from-scratch positional replay on the "
    "reduced corpus. Positional postings carry no corpus statistics, "
    "so this lane pins the MEMBERSHIP half of erasure while the BM25 "
    "lane pins the statistics half.",
)
def governance_erasure_phrase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.retrieval import (
        build_positional_postings,
        phrase_from_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    postings = build_positional_postings(docs)
    revoked = docs.filter(
        F.col("source") == _REVOKED_SOURCE
    ).select("doc_id")
    postings_e = postings.join(revoked, "doc_id", "left_anti")
    return phrase_from_index(postings_e, list(_ERA_PHRASE)).orderBy(
        "doc_id"
    )


@register(
    "governance_erasure_semantic",
    oracle=f"""
        WITH seeds AS (
          SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
          FROM embeddings
          WHERE vec_id < GREATEST({_GSEM_K},
              (SELECT COUNT(*) // {_GSEM_DOCS_PER_CLUSTER}
               FROM embeddings))
        ), reduced AS (
          SELECT vec_id, embedding FROM embeddings
          WHERE vec_id % {_GSEM_REVOKED_MOD} <> {_GSEM_REVOKED_REM}
        ), scored AS (
          SELECT e.vec_id, s.cid,
                 list_cosine_similarity(e.embedding::DOUBLE[], s.cv) AS d
          FROM reduced e CROSS JOIN seeds s
        ), ranked AS (
          SELECT vec_id, CAST(cid AS INT) AS cluster,
                 ROW_NUMBER() OVER (
                     PARTITION BY vec_id ORDER BY d DESC, cid ASC
                 ) AS rn
          FROM scored
        ), best AS (
          SELECT vec_id, cluster FROM ranked WHERE rn = 1
        ), probed AS (
          SELECT vec_id, cluster FROM ranked WHERE rn <= {_GSEM_PROBES}
        ), cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM probed a JOIN probed b
            ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        ), normed AS (
          SELECT vec_id,
                 list_transform(
                     embedding::DOUBLE[],
                     x -> x / sqrt(list_sum(list_transform(
                         embedding::DOUBLE[], y -> y * y)))) AS nv
          FROM reduced
        ), pairs AS (
          SELECT c.id_a, c.id_b
          FROM cand c
          JOIN normed na ON na.vec_id = c.id_a
          JOIN normed nb ON nb.vec_id = c.id_b
          WHERE list_dot_product(na.nv, nb.nv) >= {_GSEM_TAU}
        ), dropped AS (
          SELECT DISTINCT id_b FROM pairs
        )
        SELECT d.id_b AS vec_id, b.cluster
        FROM dropped d JOIN best b ON b.vec_id = d.id_b
        ORDER BY vec_id
    """,
    doc="Erasure propagation through the standing SEMANTIC-DEDUP state "
    f"(SemDeDup cluster assignments + near-dup pairs): revoked vectors "
    f"(vec_id % {_GSEM_REVOKED_MOD} = {_GSEM_REVOKED_REM}) are "
    "anti-joined out of the assignment index and out of EITHER end of "
    "the pairs table, and the keep/drop decision is re-served from the "
    "erased pairs. The oracle is a from-scratch SemDeDup pass over the "
    "reduced corpus under the SAME frozen centroids (seeded from the "
    "full corpus — the index's build-time contract; re-clustering is "
    "the offline rebuild path). "
    "Green pins the sharp case: a revoked vector that was a pair's "
    "KEEPER (lower id) releases its surviving twin back into the keep "
    "set exactly as the rebuild does — the twin must vanish from this "
    "dropped-survivors listing. With frozen assignments each pair "
    "depends only on its endpoints, so the anti-join erasure is "
    "rebuild-EXACT, value-hash-checked here. One broadcast anti-join "
    "per state table at scale; nothing re-scores.",
)
def governance_erasure_semantic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.semantic import (
        assign_topp_clusters,
        seed_centroids,
        semantic_near_dup_pairs,
    )
    from economic_data_etl_spark.streaming.util import erase_ids

    emb = load_table(spark, sf_dir, "embeddings")
    k = max(_GSEM_K, emb.count() // _GSEM_DOCS_PER_CLUSTER)
    cent = seed_centroids(emb, k)  # frozen at index build (full corpus)
    if not cent:
        return spark.createDataFrame([], "vec_id long, cluster int")
    # ONE ranking pass serves both the primary assignment (element 0)
    # and the multi-probe candidate assignment (explode) — the
    # semantic_dedup_summary pattern; the cache holds ids + p ints per
    # row, released after the small result is materialized.
    caches: list = []
    topp = (
        assign_topp_clusters(
            emb, cent, "embedding", _GSEM_PROBES, _resources=caches
        )
        .select("vec_id", "__clusters")
        .persist()
    )
    caches.append(topp)
    primary = topp.select(
        "vec_id",
        F.col("__clusters")[0].cast("int").alias("cluster"),
    )
    assigned = topp.select(
        F.explode("__clusters").alias("cluster"),
        F.col("vec_id").alias("__id"),
    )
    pairs = semantic_near_dup_pairs(
        emb, cent, _GSEM_TAU, "vec_id", "embedding", _GSEM_PROBES,
        _caches=caches, _assigned=assigned,
    )
    revoked = emb.filter(
        F.col("vec_id") % _GSEM_REVOKED_MOD == _GSEM_REVOKED_REM
    ).select("vec_id")
    erased = erase_ids(pairs, revoked, ["id_a", "id_b"])
    result = (
        erased.select(F.col("id_b").alias("vec_id"))
        .distinct()
        .join(primary, "vec_id")
        .orderBy("vec_id")
        # dropped-survivor rows only: eager materialization detaches
        # the result so the ranking caches release NOW
        .localCheckpoint(eager=True)
    )
    for c in caches:
        c.unpersist()
    return result


@register(
    "governance_erasure_substring",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                     x -> x <> '') AS w
  FROM documents WHERE source <> '{_GSUB_REVOKED_SOURCE}'
), g0 AS (
  SELECT doc_id, w,
         unnest(CASE WHEN len(w) >= {_GSUB_K}
                     THEN generate_series(1, len(w) - {_GSUB_K} + 1)
                     ELSE [] END) AS i
  FROM toks
), grams AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(w[i:i+{_GSUB_K}-1], ' ') AS gram
  FROM g0
), ranked AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM grams
), dup AS (
  SELECT doc_id, pos, pos + {_GSUB_K} AS e FROM ranked WHERE rn > 1
), marked AS (
  SELECT doc_id, pos, e,
         CASE WHEN pos <= MAX(e) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 0 ELSE 1 END AS new_span
  FROM dup
), spans AS (
  SELECT doc_id,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id,
         pos, e
  FROM marked
), agg AS (
  SELECT doc_id, span_id, MIN(pos) AS s, MAX(e) AS e
  FROM spans GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_dup_spans, SUM(e - s) AS dup_tokens
  FROM agg GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.w) AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens
FROM toks t
LEFT JOIN per_doc p USING (doc_id)
ORDER BY t.doc_id
""",
    doc="Erasure propagation through the standing EXACT-SUBSTRING "
    "state (provenance gram index + merged duplicated spans, k="
    f"{_GSUB_K}): revoked docs (source {_GSUB_REVOKED_SOURCE!r}) leave, and "
    "— the sharp part — every gram whose RETAINED FIRST occurrence "
    "lived in a revoked doc has its first reassigned to the earliest "
    "surviving occurrence, whose owning doc's spans are then "
    "recomputed (that occurrence flips duplicate → first, so the "
    "rebuild shrinks exactly those docs' spans). Served per-doc dedup "
    "accounting from the erased state must value-hash-equal the "
    "oracle's FROM-SCRATCH rebuild on the reduced corpus. Cost is "
    "O(revoked + reassigned docs) re-processing plus one surviving-"
    "corpus gram pass semi-joined to the affected grams "
    "(operators/substring.py:erase_substring_index) — never a full "
    "re-tokenization of unaffected state.",
)
def governance_erasure_substring(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Row-identical restructure of the erase_substring_index
    composition (r13 optimization): the standing index, the span
    table, and the erasure patch all derive from ONE k-gram pass and
    ONE gram-string shuffle. A single Window over (gram) ordered by
    (doc_id, pos) yields, per occurrence, its rank and its gram's
    first occurrence (first_id, first_pos) — and since a gram is
    identified EXACTLY by its first occurrence (two grams share a
    first iff they are the same string), every later step keys on
    those two ints and the gram string never leaves the window stage:

    - spans of the full corpus     = rn > 1 occurrences, merged;
    - affected grams               = first_id revoked;
    - new firsts (erasure patch)   = min surviving (id, pos) per
      affected gram, grouped by (first_id, first_pos);
    - redo spans (prov rule)       = redo-doc occurrences that are not
      their gram's retained first (original first, or the new first
      when the original was revoked).

    Equivalence with the operator composition is argued step-by-step
    above each block and value-checked by the oracle; the narrow
    (5-int) occurrence stream is checkpointed once where the previous
    shape re-derived corpus-wide gram STRINGS per consumer (the r12
    attempt to checkpoint the string stream lost to recompute)."""
    from economic_data_etl_spark.operators.substring import (
        kgram_occurrences,
        merge_spans,
        word_array,
    )

    docs = load_table(spark, sf_dir, "documents")
    revoked = docs.filter(
        F.col("source") == _GSUB_REVOKED_SOURCE
    ).select("doc_id")
    surviving = docs.filter(F.col("source") != _GSUB_REVOKED_SOURCE)

    occ = kgram_occurrences(docs, "doc_id", "text", _GSUB_K)
    w = Window.partitionBy("gram").orderBy("doc_id", "pos")
    rev = F.broadcast(
        revoked.select(F.col("doc_id").alias("rid"), F.lit(True).alias("rv"))
    )
    stream = (
        occ.select(
            "doc_id",
            "pos",
            F.row_number().over(w).alias("rn"),
            F.first("doc_id").over(w).alias("first_id"),
            F.first("pos").over(w).alias("first_pos"),
        )
        .join(
            rev.select(
                F.col("rid").alias("first_id"),
                F.col("rv").alias("first_rev"),
            ),
            "first_id",
            "left",
        )
        .join(
            rev.select(
                F.col("rid").alias("doc_id"), F.col("rv").alias("self_rev")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "pos",
            "rn",
            "first_id",
            "first_pos",
            F.coalesce("first_rev", F.lit(False)).alias("first_rev"),
            F.coalesce("self_rev", F.lit(False)).alias("self_rev"),
        )
        .localCheckpoint(eager=False)
    )
    # full-corpus spans: rn > 1 ≡ duplicate_occurrences (whose cnt > 1
    # filter is implied by rn > 1)
    spans = merge_spans(
        stream.filter(F.col("rn") > 1).select("doc_id", "pos"),
        "doc_id",
        _GSUB_K,
    )
    # erasure patch: earliest SURVIVING occurrence of each gram whose
    # retained first lived in a revoked doc
    new_firsts = (
        stream.filter(F.col("first_rev") & ~F.col("self_rev"))
        .groupBy("first_id", "first_pos")
        .agg(
            F.min(
                F.struct(
                    F.col("doc_id").alias("i"), F.col("pos").alias("p")
                )
            ).alias("f")
        )
        .select(
            F.col("first_id").alias("gfid"),
            F.col("first_pos").alias("gfpos"),
            F.col("f.i").alias("new_id"),
            F.col("f.p").alias("new_pos"),
        )
    )
    redo_ids = new_firsts.select(
        F.col("new_id").alias("doc_id")
    ).distinct()
    # redo docs' spans under the corrected index: an occurrence is a
    # duplicate iff it is not its gram's retained first (the prov
    # rule); a redo doc survives, so every one of its grams has a
    # retained first and the rule is total
    redo_occ = stream.join(
        F.broadcast(redo_ids), "doc_id", "left_semi"
    ).join(
        F.broadcast(new_firsts),
        (F.col("first_id") == F.col("gfid"))
        & (F.col("first_pos") == F.col("gfpos")),
        "left",
    )
    ret_id = F.when(F.col("first_rev"), F.col("new_id")).otherwise(
        F.col("first_id")
    )
    ret_pos = F.when(F.col("first_rev"), F.col("new_pos")).otherwise(
        F.col("first_pos")
    )
    redo_dups = redo_occ.filter(
        ~((F.col("doc_id") == ret_id) & (F.col("pos") == ret_pos))
    ).select("doc_id", "pos")
    redo_spans = merge_spans(redo_dups, "doc_id", _GSUB_K)
    spans2 = (
        spans.join(F.broadcast(revoked), "doc_id", "left_anti")
        .join(F.broadcast(redo_ids), "doc_id", "left_anti")
        .unionByName(redo_spans)
    )
    per_doc = spans2.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias(
            "dup_tokens"
        ),
    )
    base = surviving.select(
        "doc_id",
        F.size(word_array(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias(
                "n_dup_spans"
            ),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias(
                "dup_tokens"
            ),
        )
        .orderBy("doc_id")
    )


# pHash-erasure planted universe: doc e hosts its own original texture
# (media id = e); docs with (e-1) % 3 == 0 additionally host a
# JPEG-recompressed twin OF THE PREVIOUS DOC'S texture (media id =
# e + _GPH_TWIN, the only CROSS-document near-dup pairs in the
# universe); other docs with e % 7 == 0 host an unrelated decoy twin.
_GPH_TWIN = 1 << 40


@register(
    "governance_erasure_phash",
    oracle=f"""
        WITH surv AS (
          SELECT doc_id FROM documents WHERE source <> '{_REVOKED_SOURCE}'
        )
        SELECT r.doc_id,
               CASE WHEN r.doc_id % 3 = 1 THEN 'twin_host'
                    WHEN r.doc_id % 3 = 0 THEN 'pair_source'
                    ELSE 'decoy_host' END AS role,
               CAST(CASE WHEN r.doc_id % 3 = 0 AND EXISTS (
                        SELECT 1 FROM surv s
                        WHERE s.doc_id = r.doc_id + 1)
                    THEN 1 ELSE 0 END AS BIGINT) AS partners_orig,
               CAST(CASE WHEN r.doc_id % 3 = 1 AND EXISTS (
                        SELECT 1 FROM surv s
                        WHERE s.doc_id = r.doc_id - 1)
                    THEN 1 ELSE 0 END AS BIGINT) AS partners_twin
        FROM surv r
        WHERE r.doc_id % 3 IN (0, 1) OR r.doc_id % 7 = 0
        ORDER BY r.doc_id
    """,
    doc="Erasure propagation through the standing pHash fingerprint "
    "state (index + near-dup pairs): the planted universe's only "
    "near-dup pairs CROSS documents — doc e+1 hosts a JPEG-"
    "recompressed twin of doc e's texture (e % 3 = 0), every other "
    "planted texture sits at BCH-provable hamming >= 14 — so revoking "
    f"source {_REVOKED_SOURCE!r} (each revoked doc takes its original "
    "AND its hosted twin with it) must change a SURVIVOR's served "
    "partner count: a surviving twin host whose pair-source was "
    "revoked drops 1 → 0, and a surviving pair-source whose twin host "
    "was revoked likewise. Served counts come from the anti-join-"
    "erased pairs table (streaming/util.py:erase_ids); the oracle "
    "reconstructs the rebuild outcome arithmetically from the "
    "planting rule over the reduced corpus, so a stale pair, a "
    "missed erasure, or any false positive flips the value hash.",
)
def governance_erasure_phash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from economic_data_etl_spark.operators.phash import (
        near_dup_pairs_by_phash,
    )
    from economic_data_etl_spark.streaming.util import erase_ids

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    ids = docs.select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )

    def hash_batch(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        from economic_data_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg_gray,
        )
        from economic_data_etl_spark.operators.phash import phash64
        from economic_data_etl_spark.operators.planted import (
            planted_texture,
        )

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                rows.append((d, phash64(planted_texture(2 * d))))
                if d % 3 == 1:  # twin of the PREVIOUS doc's texture
                    prev = planted_texture(2 * (d - 1))
                    twin = decode_jpeg(encode_jpeg_gray(prev))
                    rows.append((d + _GPH_TWIN, phash64(twin)))
                elif d % 7 == 0:  # unrelated decoy twin
                    rows.append(
                        (d + _GPH_TWIN, phash64(planted_texture(2 * d + 1)))
                    )
            yield pd.DataFrame(rows, columns=["id", "phash"])

    # hash once (2 longs per image) — the pair join scans this twice
    hashes = ids.mapInPandas(
        hash_batch, "id long, phash long"
    ).localCheckpoint(eager=True)
    pairs = near_dup_pairs_by_phash(hashes, "id", "phash").select(
        "id_a", "id_b"
    )

    revoked_docs = docs.filter(
        F.col("source") == _REVOKED_SOURCE
    ).select("doc_id")
    # a revoked doc takes every media object it hosts: its original
    # texture AND its twin (derived media share the doc's fate)
    revoked_media = revoked_docs.select(
        F.explode(
            F.array(F.col("doc_id"), F.col("doc_id") + _GPH_TWIN)
        ).alias("id")
    )
    erased_pairs = erase_ids(pairs, revoked_media, ["id_a", "id_b"])

    touch = (
        erased_pairs.select(
            F.explode(F.array("id_a", "id_b")).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_partners"))
    )
    surv = docs.filter(F.col("source") != _REVOKED_SOURCE)
    listed = surv.filter(
        (F.col("doc_id") % 3 == 0)
        | (F.col("doc_id") % 3 == 1)
        | (F.col("doc_id") % 7 == 0)
    ).select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 1, F.lit("twin_host"))
        .when(F.col("doc_id") % 3 == 0, F.lit("pair_source"))
        .otherwise(F.lit("decoy_host"))
        .alias("role"),
    )
    return (
        listed.join(
            touch.select(
                F.col("id").alias("doc_id"),
                F.col("n_partners").alias("po"),
            ),
            "doc_id",
            "left",
        )
        .join(
            touch.select(
                (F.col("id") - F.lit(_GPH_TWIN)).alias("doc_id"),
                F.col("n_partners").alias("pt"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "role",
            F.coalesce(F.col("po"), F.lit(0))
            .cast("long")
            .alias("partners_orig"),
            F.coalesce(F.col("pt"), F.lit(0))
            .cast("long")
            .alias("partners_twin"),
        )
        .orderBy("doc_id")
    )


@register(
    "governance_erasure_frontier",
    oracle=_CANON_CTES
    + f"""
SELECT c.canonical, CAST(MIN(c.doc_id) AS BIGINT) AS first_doc
FROM canon c JOIN documents d USING (doc_id)
WHERE d.source <> '{_REVOKED_SOURCE}'
GROUP BY c.canonical
ORDER BY c.canonical
""",
    doc="Erasure propagation through the standing crawl-frontier "
    f"SEEN-SET: revoking source {_REVOKED_SOURCE!r} must not just hide "
    "the revoked docs' rows — every canonical URL whose retained "
    "first_doc was revoked is REASSIGNED to the earliest surviving doc "
    "with that canonical, and canonicals with no surviving occurrence "
    "leave the seen-set entirely (a future re-crawl re-fetches them — "
    "the right-to-be-forgotten semantics). Served seen-set comes from "
    "streaming/crawl_frontier.py:erase_frontier_index; the oracle "
    "is the from-scratch rebuild on the reduced corpus (canonical → "
    "min surviving doc_id). One canonicalize pass over the surviving "
    "pages semi-joined to the affected canonicals; unaffected rows are "
    "never touched.",
)
def governance_erasure_frontier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.plans.crawlq import _canonicalized
    from economic_data_etl_spark.streaming.crawl_frontier import (
        erase_frontier_index,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    # Canonicalize ONCE: the index build, the surviving-pages scan and
    # the erasure patch all consume the (doc_id, canonical) table —
    # uncheckpointed, the canonicalization regex chain ran per consumer
    # and the patch re-canonicalized the surviving pages a third time
    # (guide §1.2/§5; the table is id + two URL strings per page, cheap
    # to materialize next to the regex chain it saves).
    pages = (
        _canonicalized(spark, sf_dir)
        .select("doc_id", "url", "canonical")
        .localCheckpoint(eager=False)
    )
    index = pages.groupBy("canonical").agg(
        F.min("doc_id").alias("first_doc")
    )
    revoked = docs.filter(
        F.col("source") == _REVOKED_SOURCE
    ).select("doc_id")
    surviving_pages = pages.join(
        F.broadcast(revoked), "doc_id", "left_anti"
    ).select("doc_id", "url", "canonical")
    return erase_frontier_index(
        index, revoked, surviving_pages, canonical_col="canonical"
    ).orderBy("canonical")


# ---------------------------------------------------------------------------
# The erasure AUDIT — the compliance report a data-protection officer
# actually reads: per standing index, row counts before and after the
# erasure and the RESIDUAL references to revoked documents left behind
# (which must be zero everywhere).
# ---------------------------------------------------------------------------


def _audit_oracle() -> str:
    from economic_data_etl_spark.plans.linkgraph import (
        _EDGES_BODY,
        _LINK_DOCS,
    )

    return (
        _CANON_CTES
        + ","
        + _EDGES_BODY
        + f"""
    , toks AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                           x -> x <> '') AS w
        FROM documents
    ), ex AS (
        SELECT doc_id, source, unnest(w) AS token FROM toks
    ), rev AS (
        SELECT doc_id FROM documents WHERE source = '{_REVOKED_SOURCE}'
    ), revurl AS (
        SELECT 'https://site' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS u
        FROM rev WHERE doc_id < {_LINK_DOCS}
    ), ltoks AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(lower(text),
                   '[ \\t\\n\\r]+'), x -> x <> '') AS w
        FROM documents
    ), lpos AS (
        SELECT doc_id, source,
               CASE WHEN i >= 3
                    THEN w[i-2] || ' ' || w[i-1] || ' ' || w[i] END AS tri,
               CASE WHEN i >= 2 THEN w[i-1] || ' ' || w[i] END AS big,
               w[i] AS uni
        FROM (SELECT * FROM ltoks WHERE len(w) >= 1),
             UNNEST(range(1, len(w) + 1)) AS t(ii),
             LATERAL (SELECT CAST(ii AS INTEGER) AS i)
    )
    SELECT * FROM (
        SELECT 'bm25_postings' AS index_name,
               (SELECT COUNT(*) FROM (SELECT DISTINCT doc_id, token
                                      FROM ex)) AS rows_full,
               (SELECT COUNT(*) FROM (SELECT DISTINCT doc_id, token
                                      FROM ex
                                      WHERE source <> '{_REVOKED_SOURCE}'))
                   AS rows_erased,
               CAST(0 AS BIGINT) AS residual_refs
        UNION ALL
        SELECT 'positional_postings',
               (SELECT COUNT(*) FROM ex),
               (SELECT COUNT(*) FROM ex
                WHERE source <> '{_REVOKED_SOURCE}'),
               0
        UNION ALL
        SELECT 'frontier_seen_set',
               (SELECT COUNT(DISTINCT canonical) FROM canon),
               (SELECT COUNT(DISTINCT canonical) FROM canon
                JOIN documents USING (doc_id)
                WHERE source <> '{_REVOKED_SOURCE}'),
               0
        UNION ALL
        SELECT 'link_edges',
               (SELECT COUNT(*) FROM edges),
               (SELECT COUNT(*) FROM edges
                WHERE src_doc_id NOT IN (SELECT doc_id FROM rev)
                  AND split_part(dst_url, '?', 1)
                      NOT IN (SELECT u FROM revurl)),
               0
        UNION ALL
        SELECT 'lm_counts',
               (SELECT COUNT(DISTINCT uni) + COUNT(DISTINCT big)
                       + COUNT(DISTINCT tri) FROM lpos),
               (SELECT COUNT(DISTINCT uni) + COUNT(DISTINCT big)
                       + COUNT(DISTINCT tri) FROM lpos
                WHERE source <> '{_REVOKED_SOURCE}'),
               0
    )
    ORDER BY index_name
    """
    )


@register(
    "governance_erasure_audit",
    oracle=_audit_oracle(),
    doc="The erasure AUDIT — per standing index, rows before and after "
    f"revoking source {_REVOKED_SOURCE!r} and the RESIDUAL references "
    "to revoked docs the erased index still holds (constant-ZERO: the "
    "residual is COMPUTED by re-probing each erased index for revoked "
    "ids — a leaky anti-join shows up as a nonzero count, not a "
    "silently-green row). Covers the doc-keyed indexes (BM25 tf "
    "postings, positional postings), the reassignment-shaped frontier "
    "seen-set (a canonical whose docs are all revoked LEAVES; a "
    "shared canonical stays — counts shift accordingly), and the "
    "two-sided link-edge index (linker AND target erasure, query "
    "variants stripped). Before/after counts are genuinely replayed "
    "by the oracle, so the report's numbers — not just the zeros — "
    "are value-checked. Each audit row is a 1-row aggregate; revoked "
    "sets broadcast.",
)
def governance_erasure_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.linkgraph import (
        dst_base,
        erase_link_edges,
    )
    from economic_data_etl_spark.operators.retrieval import (
        build_positional_postings,
        build_postings,
    )
    from economic_data_etl_spark.plans.crawlq import _canonicalized
    from economic_data_etl_spark.plans.linkgraph import (
        _LINK_DOCS,
        _link_edges,
    )

    docs = load_table(spark, sf_dir, "documents")
    revoked = docs.filter(
        F.col("source") == _REVOKED_SOURCE
    ).select("doc_id")

    def audit_row(name, full, erased, residual) -> DataFrame:
        return (
            full.agg(F.count(F.lit(1)).alias("rows_full"))
            .crossJoin(
                erased.agg(F.count(F.lit(1)).alias("rows_erased"))
            )
            .crossJoin(
                residual.agg(
                    F.count(F.lit(1)).alias("residual_refs")
                )
            )
            .select(
                F.lit(name).alias("index_name"),
                "rows_full",
                "rows_erased",
                "residual_refs",
            )
        )

    rows = []

    # Each audit row crossJoins THREE independent 1-row aggregates
    # (full count, erased count, residual probe) — three consumers of
    # the same index lineage, and Spark does no CSE across joins, so
    # uncheckpointed each standing index would be rebuilt from raw text
    # once per consumer (66 parquet scans / 114 Exchanges in the before
    # plan -> 12 scans with the checkpoints below;
    # plans/r12/governance_erasure_audit_*.txt). At the 100 TB design
    # point these ARE the standing indexes a real deployment already
    # persists — the audit should scan them, never re-derive them per
    # counter (guide §5: cache what is reused). At sf0.1 the residual
    # win is modest (6.23 s -> ~5.4 s: building each index ONCE already
    # costs ~6 s standalone) but the at-scale argument is the point —
    # every consumer past the first reads checkpoint blocks instead of
    # re-tokenizing the corpus.
    postings, _ = build_postings(docs)
    postings = postings.localCheckpoint(eager=False)
    p_erased = postings.join(F.broadcast(revoked), "doc_id", "left_anti")
    rows.append(
        audit_row(
            "bm25_postings",
            postings,
            p_erased,
            p_erased.join(F.broadcast(revoked), "doc_id", "left_semi"),
        )
    )

    pos = build_positional_postings(docs).localCheckpoint(eager=False)
    pos_erased = pos.join(F.broadcast(revoked), "doc_id", "left_anti")
    rows.append(
        audit_row(
            "positional_postings",
            pos,
            pos_erased,
            pos_erased.join(
                F.broadcast(revoked), "doc_id", "left_semi"
            ),
        )
    )

    canon = (
        _canonicalized(spark, sf_dir)
        .select("doc_id", "canonical")
        .localCheckpoint(eager=False)
    )
    f_full = canon.select("canonical").distinct()
    canon_kept = canon.join(F.broadcast(revoked), "doc_id", "left_anti")
    f_erased = canon_kept.select("canonical").distinct()
    # residual: canonicals in the erased seen-set reachable ONLY via
    # revoked docs (none, by construction of the anti-join-then-distinct)
    f_resid = f_erased.join(
        canon.join(F.broadcast(revoked), "doc_id", "left_semi")
        .select("canonical")
        .distinct()
        .join(canon_kept.select("canonical").distinct(),
              "canonical", "left_anti"),
        "canonical",
        "left_semi",
    )
    rows.append(
        audit_row("frontier_seen_set", f_full, f_erased, f_resid)
    )

    edges = _link_edges(spark, sf_dir).localCheckpoint(eager=False)
    rev_link = docs.filter(
        (F.col("source") == _REVOKED_SOURCE)
        & (F.col("doc_id") < _LINK_DOCS)
    ).select(
        "doc_id",
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("base_url"),
    )
    e_erased = erase_link_edges(edges, F.broadcast(rev_link))
    e_resid = e_erased.join(
        F.broadcast(rev_link.select(
            F.col("doc_id").alias("src_doc_id"))),
        "src_doc_id",
        "left_semi",
    ).unionByName(
        e_erased.join(
            F.broadcast(rev_link.select(
                dst_base(F.col("base_url")).alias("__b"))),
            dst_base(F.col("dst_url")) == F.col("__b"),
            "left_semi",
        )
    )
    rows.append(audit_row("link_edges", edges, e_erased, e_resid))

    # Stupid-Backoff LM count table: not doc-keyed, so erasure is
    # exact SUBTRACTION of the revoked docs' recomputed counts
    # (streaming/incremental_lm.py:erase_counts); the residual probe
    # re-checks the erased table for grams that occur ONLY in revoked
    # docs — subtraction zeroes them out, so a nonzero count means a
    # leaked gram, not a tautology.
    from economic_data_etl_spark.plans.lmppl import (
        _gram_counts,
        _positions,
        token_arrays,
    )
    from economic_data_etl_spark.streaming.incremental_lm import (
        erase_counts,
    )

    # tokenize once; the revoked recount filters the same checkpointed
    # token table (the governance_erasure_lm fix, applied here too)
    lm_toks = token_arrays(docs)
    lm_full = _gram_counts(
        _positions(lm_toks)
    ).localCheckpoint(eager=False)
    rev_counts = _gram_counts(
        _positions(
            lm_toks.filter(F.col("source") == _REVOKED_SOURCE)
        )
    ).localCheckpoint(eager=False)
    lm_erased = erase_counts(lm_full, rev_counts).localCheckpoint(
        eager=False
    )
    # grams occurring EXCLUSIVELY in revoked docs: full count equals
    # the revoked count — determined from the pre-erasure tables, so
    # the probe is independent of the erasure it checks
    revoked_only = (
        rev_counts.select(
            "ord", "g", F.col("c").alias("c_rev")
        )
        .join(lm_full.select("ord", "g", "c"), ["ord", "g"])
        .filter(F.col("c_rev") == F.col("c"))
    )
    lm_resid = lm_erased.join(
        revoked_only.select("ord", "g"), ["ord", "g"], "left_semi"
    )
    rows.append(audit_row("lm_counts", lm_full, lm_erased, lm_resid))

    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("index_name")


@register(
    "governance_erasure_lm",
    oracle=_lm_oracle(f"WHERE source <> '{_REVOKED_SOURCE}'"),
    doc="Erasure propagation through the standing Stupid-Backoff LM "
    f"index (license revocation of source {_REVOKED_SOURCE!r}): the "
    "(order, gram, count) table is NOT doc-keyed, so the anti-join "
    "recipe of the other standing indexes cannot apply — counts are "
    "ADDITIVE instead, and erasure is exact subtraction of the "
    "revoked docs' recomputed gram counts, with zero-count grams "
    "leaving the index entirely "
    "(streaming/incremental_lm.py:erase_counts). The surviving corpus "
    "is then scored from the erased index. The oracle is the "
    "from-scratch one-shot build on the reduced corpus — green proves "
    "the erasure is EXACT including the model statistics that shift "
    "when documents leave (prune cut, conditional ratios, total-mass "
    "OOV floor), not just row hiding.",
)
def governance_erasure_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.plans.lmppl import (
        _gram_counts,
        _positions,
        score_with_counts,
        token_arrays,
    )
    from economic_data_etl_spark.streaming.incremental_lm import (
        erase_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    # Tokenize ONCE: the standing build, the revoked-subset recount and
    # the surviving-corpus scoring pass previously each called
    # token_arrays on their own doc subset — three full regex
    # tokenizations of overlapping data (guide §1.2: don't compute
    # things twice). token_arrays self-checkpoints, so the filters
    # below read the one cached token table; filter-after-tokenize is
    # row-identical to tokenize-after-filter.
    toks = token_arrays(docs)
    standing = _gram_counts(_positions(toks))
    revoked_counts = _gram_counts(
        _positions(toks.filter(F.col("source") == _REVOKED_SOURCE))
    )
    erased = erase_counts(standing, revoked_counts).localCheckpoint(
        eager=False
    )
    surviving = toks.filter(F.col("source") != _REVOKED_SOURCE)
    return score_with_counts(_positions(surviving), erased)


# ---------------------------------------------------------------------------
# CMS erasure (the linear-sketch case), k-anonymity, DP release

_CMSE_DEPTH, _CMSE_WIDTH = 3, 1024


@register(
    "governance_erasure_cms",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                             x -> x <> '') AS w
          FROM documents WHERE source <> '{_REVOKED_SOURCE}'
        ), g0 AS (
          SELECT doc_id, w,
                 unnest(CASE WHEN len(w) >= 2
                             THEN generate_series(1, len(w) - 1)
                             ELSE [] END) AS i
          FROM toks
        ), bg AS (
          SELECT array_to_string(w[i:i+1], ' ') AS bigram FROM g0
        ), rws AS (
          SELECT unnest(generate_series(0, {_CMSE_DEPTH - 1})) AS rw
        ), h AS (
          SELECT r.rw,
                 CAST(('0x' || substr(md5(CAST(r.rw AS VARCHAR) || ':'
                       || bg.bigram), 1, 8)) AS BIGINT)
                     % {_CMSE_WIDTH} AS bucket
          FROM bg CROSS JOIN rws r
        ), sk AS (
          SELECT rw, bucket, COUNT(*) AS cnt FROM h GROUP BY rw, bucket
        ), q AS (
          SELECT DISTINCT bigram FROM bg
        ), qh AS (
          SELECT q.bigram, r.rw,
                 CAST(('0x' || substr(md5(CAST(r.rw AS VARCHAR) || ':'
                       || q.bigram), 1, 8)) AS BIGINT)
                     % {_CMSE_WIDTH} AS bucket
          FROM q CROSS JOIN rws r
        ), est AS (
          SELECT bigram, MIN(COALESCE(sk.cnt, 0)) AS est
          FROM qh LEFT JOIN sk USING (rw, bucket)
          GROUP BY bigram
        ), cnt AS (
          SELECT bigram, COUNT(*) AS freq FROM bg GROUP BY bigram
        )
        SELECT c.bigram,
               CAST(c.freq AS BIGINT) AS freq,
               CAST(e.est AS BIGINT) AS est,
               TRUE AS no_undercount
        FROM cnt c JOIN est e USING (bigram)
        ORDER BY bigram
    """,
    doc="Erasure propagation through the standing Count-Min sketch "
    f"(license revocation of source {_REVOKED_SOURCE!r}): a CMS is a "
    "LINEAR transform of the item stream, so erasure is exact "
    "CELL-WISE SUBTRACTION of the revoked docs' own sketch "
    "(operators/cms.py:cms_subtract) — zero-count cells leave the "
    "table, and the erased sketch is bit-identical to a from-scratch "
    "build on the reduced corpus. The oracle IS that from-scratch "
    "reduced build (replaying the md5 bucketing and every point "
    "estimate), so green proves exact equality of all surviving "
    "estimates — the linear-sketch counterpart of the additive-count "
    "LM erasure, next to the doc-keyed anti-join indexes and the "
    "rebuild-only sketches (KMV/KLL, which keep order statistics and "
    "cannot subtract).",
)
def governance_erasure_cms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.cms import (
        cms_build,
        cms_estimate,
        cms_subtract,
    )
    from economic_data_etl_spark.operators.substring import (
        kgram_occurrences,
    )

    docs = load_table(spark, sf_dir, "documents")

    # ONE gram pass for all three bigram streams (full build, revoked
    # subtraction build, surviving estimate/frequency): the source tag
    # rides through kgram_occurrences inside a struct id, and the
    # narrow (src, bigram) table is checkpointed once — previously each
    # stream re-tokenized its own doc subset (3 full regex+explode
    # passes for 1 corpus; guide §1.2/§5).
    keyed = docs.select(
        F.struct(
            F.col("doc_id").alias("d"), F.col("source").alias("s")
        ).alias("k"),
        "text",
    )
    grams = (
        kgram_occurrences(keyed, "k", "text", 2)
        .select(
            F.col("k.s").alias("src"), F.col("gram").alias("bigram")
        )
        .localCheckpoint(eager=False)
    )
    full = cms_build(
        grams.select("bigram"), "bigram", _CMSE_DEPTH, _CMSE_WIDTH
    )
    rev = cms_build(
        grams.filter(F.col("src") == _REVOKED_SOURCE).select("bigram"),
        "bigram",
        _CMSE_DEPTH,
        _CMSE_WIDTH,
    )
    erased = cms_subtract(full, rev).localCheckpoint(eager=False)
    surviving = grams.filter(
        F.col("src") != _REVOKED_SOURCE
    ).select("bigram")
    freq = surviving.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("freq")
    )
    est = cms_estimate(
        erased, surviving, "bigram", _CMSE_DEPTH, _CMSE_WIDTH
    ).withColumnRenamed("item", "bigram")
    return (
        freq.join(est, "bigram")
        .select(
            "bigram",
            "freq",
            "est",
            (F.col("est") >= F.col("freq")).alias("no_undercount"),
        )
        .orderBy("bigram")
    )


_K_ANON = 4


@register(
    "governance_k_anonymity",
    oracle=f"""
    WITH c0 AS (
        SELECT c_nationkey, c_mktsegment,
               FLOOR(c_acctbal / 1000) AS bal_band,
               COUNT(*) AS sz
        FROM customer GROUP BY 1, 2, 3
    ), lvl AS (
        SELECT 0 AS level, sz FROM c0
        UNION ALL
        SELECT 1, SUM(sz) FROM c0 GROUP BY c_nationkey, c_mktsegment
        UNION ALL
        SELECT 2, SUM(sz) FROM c0 GROUP BY c_mktsegment
    )
    SELECT level,
           COUNT(*) AS n_classes,
           CAST(MIN(sz) AS BIGINT) AS min_class_size,
           CAST(SUM(CASE WHEN sz < {_K_ANON} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below_k,
           CAST(SUM(CASE WHEN sz < {_K_ANON} THEN sz ELSE 0 END)
                AS BIGINT) AS rows_suppressed,
           ROUND(5e-10 + SUM(CASE WHEN sz < {_K_ANON} THEN sz
                                  ELSE 0 END) * 1.0 / SUM(sz),
                 4) AS suppression_rate
    FROM lvl GROUP BY level ORDER BY level
    """,
    doc=f"k-anonymity audit (k={_K_ANON}) of the customer table under "
    "a 3-step generalization ladder of quasi-identifiers: level 0 = "
    "(nation, segment, $1000 account-balance band), level 1 drops the "
    "band, level 2 keeps only the segment. ONE corpus pass builds the "
    "finest equivalence classes; the coarser levels aggregate that "
    "BOUNDED class table (the QI levels nest), so generalization "
    "costs no extra scans. Per level: class count, smallest class, "
    "classes below k, rows a k-anonymous release must suppress, and "
    "the suppression rate — the standard re-identification risk "
    "report a governance review runs before publishing microdata. "
    "Pure integer arithmetic except the rounded rate.",
)
def governance_k_anonymity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    c0 = (
        cust.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("sz"))
        .localCheckpoint(eager=False)  # 3 level consumers
    )
    lvl = (
        c0.select(F.lit(0).alias("level"), "sz")
        .unionByName(
            c0.groupBy("c_nationkey", "c_mktsegment")
            .agg(F.sum("sz").alias("sz"))
            .select(F.lit(1).alias("level"), "sz")
        )
        .unionByName(
            c0.groupBy("c_mktsegment")
            .agg(F.sum("sz").alias("sz"))
            .select(F.lit(2).alias("level"), "sz")
        )
    )
    small = F.col("sz") < _K_ANON
    return (
        lvl.groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.min("sz").cast("long").alias("min_class_size"),
            F.sum(F.when(small, 1).otherwise(0))
            .cast("long")
            .alias("n_below_k"),
            F.sum(F.when(small, F.col("sz")).otherwise(0))
            .cast("long")
            .alias("rows_suppressed"),
            biased_round(
                F.sum(F.when(small, F.col("sz")).otherwise(0))
                / F.sum("sz")
            ).alias("suppression_rate"),
        )
        .orderBy("level")
    )


_DP_EPS_CNT = 0.5  # count release: sensitivity 1, scale b = 1/eps = 2
_DP_EPS_SUM = 0.5  # clamped-sum release: sensitivity 11000, b = 22000
_DP_B_CNT = 2.0
_DP_B_SUM = 22000.0
_DP_CLAMP_LO, _DP_CLAMP_HI = -1000.0, 10000.0


def _dp_noise_sql(salt: str, b: float) -> str:
    return f"""((-{b}) * SIGN(((('0x' || substring(md5('{salt}'
        || CAST(n_nationkey AS VARCHAR)), 1, 4))::BIGINT + 0.5)
        / 65536.0) - 0.5)
        * LN(1.0 - 2.0 * ABS(((('0x' || substring(md5('{salt}'
        || CAST(n_nationkey AS VARCHAR)), 1, 4))::BIGINT + 0.5)
        / 65536.0) - 0.5)))"""


@register(
    "governance_dp_release",
    oracle=f"""
    WITH cl AS (
        SELECT c_nationkey,
               LEAST(GREATEST(c_acctbal, {_DP_CLAMP_LO}),
                     {_DP_CLAMP_HI}) AS bal
        FROM customer
    ), agg AS (
        SELECT n.n_nationkey, n.n_name,
               COUNT(*) AS n, SUM(bal) AS s
        FROM cl JOIN nation n ON n.n_nationkey = cl.c_nationkey
        GROUP BY n.n_nationkey, n.n_name
    )
    SELECT n_name,
           ROUND(5e-10 + n + {_dp_noise_sql("dp-cnt-v1", _DP_B_CNT)},
                 4) AS noisy_count,
           ROUND(5e-10 + s + {_dp_noise_sql("dp-sum-v1", _DP_B_SUM)},
                 4) AS noisy_sum_acctbal,
           CAST({_DP_EPS_CNT + _DP_EPS_SUM} AS DOUBLE) AS epsilon_total
    FROM agg ORDER BY n_name
    """,
    doc="Differentially-private release of per-nation customer counts "
    f"and clamped account-balance sums: Laplace mechanism with the "
    f"budget split eps = {_DP_EPS_CNT} + {_DP_EPS_SUM} (sequential "
    f"composition; count sensitivity 1 -> scale {_DP_B_CNT}, sum "
    f"clamped to [{_DP_CLAMP_LO}, {_DP_CLAMP_HI}] -> sensitivity "
    f"11000 -> scale {_DP_B_SUM}). Noise is the inverse-CDF transform "
    "-b * sign(u-.5) * ln(1-2|u-.5|) of an md5-bucket uniform keyed "
    "on (salt, nation) — the derandomization house rule, so the "
    "oracle replays the EXACT noise (a production release would draw "
    "from a CSPRNG; the mechanism, clamp, and budget accounting are "
    "the deliverable). True values never appear in the output. The "
    "release is one broadcast-joined aggregation; noise is a pure "
    "projection over the nations-sized result.",
)
def governance_dp_release(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cl = cust.select(
        "c_nationkey",
        F.least(
            F.greatest(F.col("c_acctbal"), F.lit(_DP_CLAMP_LO)),
            F.lit(_DP_CLAMP_HI),
        ).alias("bal"),
    )
    agg = (
        cl.join(
            F.broadcast(nation),
            cl["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("n_nationkey", "n_name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("bal").alias("s"))
    )

    def noise(salt: str, b: float):
        hex4 = F.substring(
            F.md5(
                F.concat(
                    F.lit(salt), F.col("n_nationkey").cast("string")
                )
            ),
            1,
            4,
        )
        bkt = F.conv(hex4, 16, 10).cast("long")
        v = (bkt + F.lit(0.5)) / F.lit(65536.0) - F.lit(0.5)
        return (F.lit(-b) * F.signum(v)) * F.log(
            F.lit(1.0) - F.lit(2.0) * F.abs(v)
        )

    return agg.select(
        "n_name",
        biased_round(
            F.col("n") + noise("dp-cnt-v1", _DP_B_CNT)
        ).alias("noisy_count"),
        biased_round(
            F.col("s") + noise("dp-sum-v1", _DP_B_SUM)
        ).alias("noisy_sum_acctbal"),
        F.lit(_DP_EPS_CNT + _DP_EPS_SUM).alias("epsilon_total"),
    ).orderBy("n_name")
