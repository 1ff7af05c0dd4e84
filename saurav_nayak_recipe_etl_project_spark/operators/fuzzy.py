"""Fuzzy string matching: edit-distance near-collision detection over
a dimension's distinct-name domain (entity-resolution / catalog-hygiene
shape — "are these two product names the same thing misspelled?").

Reference parity: the reference's validator only checks exact formats
(src/data_validation.py:44-46, the email regex); a warehouse dimension
additionally needs NEAR-collision detection before names become join
keys. Re-hosted on part.p_name.

Scale notes:
- The pair search runs over the DISTINCT-name table, never the fact
  or even the dimension rows: names are a vocabulary (grows ~log of
  the catalog), so the candidate space is vocab x vocab at worst.
- Blocking makes it linear-ish anyway: levenshtein(a, b) <= K implies
  |len(a) - len(b)| <= K, so names are bucketed by floor(len / W)
  with W = K + 1 and each left row probes only its own and the two
  adjacent buckets (3 equi-join probes, NO theta join / cartesian).
  The band-neighbor explode is exactly the rangejoin.py trick. Any
  true pair lands in exactly one (bucket, offset) cell, so the
  blocked join needs no post-dedup — and the oracle runs the
  UNBLOCKED all-pairs form, so a hash match PROVES the blocking
  lost nothing (the dedup-LSH containment-gate pattern).
- levenshtein runs JVM-side with Spark's bounded-threshold variant
  (cost O(K * len) per pair instead of O(len^2), early-exit row
  pruning inside codegen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

FUZZY_MAX_DIST = 2
# bucket width must exceed FUZZY_MAX_DIST so |len diff| <= K never
# spans more than adjacent buckets
_BUCKET_W = FUZZY_MAX_DIST + 1


def name_near_collisions(names: DataFrame, name_col: str = "name",
                         weight_col: str = "n_rows") -> DataFrame:
    """All unordered pairs of DISTINCT names within levenshtein
    distance FUZZY_MAX_DIST, via length-band blocking. `names` must
    carry one row per distinct name with a weight (row count)."""
    base = names.select(
        F.col(name_col).alias("nm"),
        F.col(weight_col).alias("w"),
        F.floor(F.length(name_col) / _BUCKET_W).alias("bkt"),
    )
    left = base.select(
        F.col("nm").alias("name_a"), F.col("w").alias("n_parts_a"),
        F.explode(
            F.array(F.col("bkt") - 1, F.col("bkt"), F.col("bkt") + 1)
        ).alias("probe_bkt"),
    )
    right = base.select(
        F.col("nm").alias("name_b"), F.col("w").alias("n_parts_b"),
        F.col("bkt").alias("probe_bkt"),
    )
    pairs = left.join(right, "probe_bkt").where(
        (F.col("name_a") < F.col("name_b"))
        & (F.abs(F.length("name_a") - F.length("name_b"))
           <= FUZZY_MAX_DIST)
    )
    dist = F.levenshtein("name_a", "name_b", FUZZY_MAX_DIST)
    return (
        pairs.withColumn("dist", dist.cast("long"))
        .where((F.col("dist") >= 0) & (F.col("dist") <= FUZZY_MAX_DIST))
        .select("name_a", "name_b", "dist", "n_parts_a", "n_parts_b")
    )


def part_name_near_collisions(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Near-duplicate part-name report: distinct p_name pairs within
    edit distance 2, each with how many catalog rows carry the
    variant — the review queue for "red bolt" vs "old bolt"-class
    collisions before p_name is trusted as a conformed key."""
    part = load_table(spark, "part", sf_dir)
    names = part.groupBy("p_name").agg(F.count("*").alias("n_rows"))
    return name_near_collisions(names, "p_name", "n_rows")


# UNBLOCKED all-pairs oracle over the distinct-name domain: the driver
# hash-match proves the length-band blocking above misses no pair.
PART_NAME_FUZZY_ORACLE = f"""
    WITH names AS (
      SELECT p_name AS nm, CAST(COUNT(*) AS BIGINT) AS w
      FROM part GROUP BY p_name
    )
    SELECT a.nm AS name_a, b.nm AS name_b,
      CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist,
      a.w AS n_parts_a, b.w AS n_parts_b
    FROM names a JOIN names b ON a.nm < b.nm
    WHERE levenshtein(a.nm, b.nm) <= {FUZZY_MAX_DIST}
"""

def part_name_entity_resolution(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over part names (the MDM golden-
    record pipeline composed from existing stages): length-band
    blocking -> bounded levenshtein edges (name_near_collisions) ->
    star-contraction connected components (operators/dedup.py
    star_components, the same loop dup_clusters runs) ->
    survivorship. Canonical member per cluster = most catalog rows,
    lexicographic name tie-break; singleton names are not emitted
    (nothing to merge).

    Output: one roster row per member of every >=2 cluster with its
    canonical assignment — the reviewable merge plan. The per-cluster
    canonical window is bounded by cluster size (edit-distance-2
    clusters are tiny by construction). The oracle replays blocking-
    free: UNBLOCKED all-pairs edges + WITH RECURSIVE transitive
    closure, so a hash match proves blocking-losslessness AND
    cross-algorithm component agreement in one gate."""
    from saurav_nayak_recipe_etl_project_spark.operators.dedup import (
        star_components,
    )
    from pyspark.sql.window import Window

    part = load_table(spark, "part", sf_dir)
    names = part.groupBy("p_name").agg(F.count("*").alias("n_rows"))
    edges = name_near_collisions(names, "p_name", "n_rows").select(
        F.col("name_a").alias("a"), F.col("name_b").alias("b")
    )
    child = star_components(edges)
    labeled = (
        names.join(
            child.withColumnRenamed("a", "p_name"), "p_name", "left"
        )
        .select(
            F.col("p_name").alias("member_name"),
            "n_rows",
            F.coalesce("parent", F.col("p_name")).alias("label"),
        )
    )
    sizes = labeled.groupBy("label").agg(
        F.count("*").alias("cluster_size")
    ).where(F.col("cluster_size") >= 2)
    w_c = Window.partitionBy("label").orderBy(
        F.desc("n_rows"), F.asc("member_name")
    )
    membered = (
        labeled.join(sizes, "label")
        .withColumn("rk", F.row_number().over(w_c))
    )
    canon = membered.where(F.col("rk") == 1).select(
        "label", F.col("member_name").alias("canonical_name")
    )
    return membered.join(canon, "label").select(
        "canonical_name",
        "member_name",
        "n_rows",
        "cluster_size",
        (F.col("rk") == 1).alias("is_canonical"),
    )


ENTITY_RESOLUTION_ORACLE = f"""
    WITH RECURSIVE
    names AS (
      SELECT p_name AS nm, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM part GROUP BY p_name
    ),
    edges AS (
      SELECT a.nm AS na, b.nm AS nb
      FROM names a JOIN names b ON a.nm < b.nm
      WHERE levenshtein(a.nm, b.nm) <= {FUZZY_MAX_DIST}
    ),
    sym AS (
      SELECT na AS s, nb AS d FROM edges
      UNION SELECT nb, na FROM edges
    ),
    reach(nm, peer) AS (
      SELECT nm, nm FROM names
      UNION
      SELECT r.nm, s.d FROM reach r JOIN sym s ON r.peer = s.s
    ),
    labels AS (SELECT nm, MIN(peer) AS label FROM reach GROUP BY nm),
    sizes AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM labels GROUP BY label HAVING COUNT(*) >= 2
    ),
    membered AS (
      SELECT l.label, l.nm AS member_name, n.n_rows, s.cluster_size,
        ROW_NUMBER() OVER (PARTITION BY l.label
          ORDER BY n.n_rows DESC, l.nm) AS rk
      FROM labels l
      JOIN names n ON l.nm = n.nm
      JOIN sizes s ON l.label = s.label
    ),
    canon AS (
      SELECT label, member_name AS canonical_name
      FROM membered WHERE rk = 1
    )
    SELECT c.canonical_name, m.member_name, m.n_rows, m.cluster_size,
      m.rk = 1 AS is_canonical
    FROM membered m JOIN canon c USING (label)
"""


FUZZY_QUERIES = {
    "part_name_near_collisions": part_name_near_collisions,
    "part_name_entity_resolution": part_name_entity_resolution,
}

FUZZY_ORACLES = {
    "part_name_near_collisions": PART_NAME_FUZZY_ORACLE,
    "part_name_entity_resolution": ENTITY_RESOLUTION_ORACLE,
}
