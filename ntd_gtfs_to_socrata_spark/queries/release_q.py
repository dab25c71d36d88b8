"""The corpus release pipeline AS an oracle-checked query: per-split
counts of ``plans/corpus_release.build_release``'s output, with the WHOLE
chain — cleaning rules (all five Gopher cuts) → exact dedup keep-one →
near-dup keep-one (df-capped shared-shingle pairs → Jaccard ≥ 0.5 →
connected components) → decontamination against the held-out eval slice →
md5 split — replayed declaratively in DuckDB (recursive CTE for the CC
step). One value hash certifies the composition, not just each stage: the
strongest end-to-end check in the registry. The rule thresholds, stopword
list and df cap are interpolated from the SAME constants the plan uses,
so the two sides cannot drift (r6 ADVICE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.operators.textops import STOPWORDS
from ntd_gtfs_to_socrata_spark.plans.corpus_release import (
    _NEARDUP_DF_CAP,
    build_release,
)
from ntd_gtfs_to_socrata_spark.queries import register

_BUCKET = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100"

RELEASE_ORACLE = f"""
WITH RECURSIVE ruled AS MATERIALIZED (
  SELECT doc_id, text, n_chars, toks FROM (
    SELECT doc_id, text, n_chars,
           regexp_split_to_array(trim(text), '\\s+') AS toks
    FROM documents
  )
  WHERE len(toks) BETWEEN 50 AND 100000
    AND (CAST(length(text) AS DOUBLE) / greatest(len(toks), 1)) BETWEEN 3 AND 10
    AND len(list_distinct(list_filter(toks, x -> list_contains({STOPWORDS!r}, x)))) >= 2
    AND (CAST(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$'))) AS DOUBLE)
         / greatest(len(toks), 1)) <= 0.2
    AND (CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1)) >= 0.3
),
canon AS (
  SELECT min(doc_id) AS doc_id FROM ruled GROUP BY text
),
exact AS MATERIALIZED (
  SELECT r.* FROM ruled r SEMI JOIN canon c ON r.doc_id = c.doc_id
),
shingled AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM exact
),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM shingled),
exploded AS MATERIALIZED (SELECT doc_id, unnest(sh) AS shingle FROM shingled),
kept AS (
  SELECT shingle FROM exploded GROUP BY shingle
  HAVING count(*) > 1 AND count(*) <= {_NEARDUP_DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS nc
  FROM exploded a
  JOIN kept k ON a.shingle = k.shingle
  JOIN exploded b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
near AS (
  SELECT p.doc_a, p.doc_b FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
  WHERE CAST(p.nc AS DOUBLE) / (sa.n_sh + sb.n_sh - p.nc) >= 0.5
),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM near
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM near
),
reach(node, root) AS (
  SELECT DISTINCT src AS node, src AS root FROM edges
  UNION
  SELECT e.dst AS node, r.root AS root FROM reach r JOIN edges e ON e.src = r.node
),
cc AS MATERIALIZED (SELECT node, min(root) AS comp FROM reach GROUP BY node),
dropped AS (
  SELECT c.node AS doc_id
  FROM cc c JOIN (SELECT comp, min(node) AS keep FROM cc GROUP BY comp) m
    ON c.comp = m.comp
  WHERE c.node <> m.keep
),
survivors AS MATERIALIZED (
  SELECT e.*, ({_BUCKET}) AS bucket FROM exact e
  ANTI JOIN dropped d ON e.doc_id = d.doc_id
),
eval_sh AS (
  SELECT DISTINCT unnest(sh) AS shingle
  FROM (
    SELECT list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
    FROM survivors WHERE bucket >= 98
  )
),
contaminated AS (
  SELECT DISTINCT s.doc_id
  FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
             AS shingle
    FROM survivors WHERE bucket < 98
  ) s
  SEMI JOIN eval_sh e ON s.shingle = e.shingle
),
released AS (
  SELECT s.doc_id, s.n_chars,
         CASE WHEN s.bucket < 80 THEN 'train'
              WHEN s.bucket < 90 THEN 'validation'
              ELSE 'test' END AS split
  FROM survivors s
  ANTI JOIN contaminated c ON s.doc_id = c.doc_id
  WHERE s.bucket < 98
)
SELECT split, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id,
       CAST(max(doc_id) AS BIGINT) AS max_doc_id
FROM released GROUP BY split
"""


@register("release_pipeline_counts", RELEASE_ORACLE)
def release_pipeline_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split manifest of the full corpus release (see module
    docstring): the Spark side runs the production plan
    (``plans/corpus_release.build_release`` — observe-counted, LSH/CC
    powered), the oracle replays every stage declaratively including a
    recursive-CTE connected components — so the value hash certifies the
    COMPOSITION end to end."""
    released = build_release(spark, sf_dir).released
    return released.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )
