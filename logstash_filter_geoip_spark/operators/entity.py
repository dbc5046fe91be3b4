"""Fuzzy entity matching and resolution: blocked edit-distance pairing over
a name vocabulary, plus canonicalization via connected components.

The training-data-pipeline face of record linkage: raw corpora carry the
same entity under near-identical spellings (site names, authors, product
titles); resolving them is blocking + pairwise similarity + transitive
closure — the same candidates-then-verify shape as the document near-dup
suite, applied to SHORT strings with edit distance instead of shingles.

Scale shape (100 TB):
  * matching runs over the DISTINCT name vocabulary, never the corpus —
    one exact two-phase ``distinct()`` reduces the input to
    vocabulary-sized before any pairing;
  * candidates come from a blocked self-equi-join (first token + a length
    band residual) — never a cartesian product. Within-block cost is
    quadratic by nature, so ``block_cap`` bounds the damage of one
    degenerate block (a stop-word first token): over-cap blocks are
    DROPPED LOUDLY via an aggregate count, mirroring the dedup suite's
    ``df_cap`` skew guard;
  * verification is one compiled ``levenshtein`` per candidate (JVM
    codegen; no Python);
  * canonicalization reuses ``dedup.dedup_components`` (persisted edges +
    localCheckpoint fixpoint), running on the vocabulary-sized pair set.

Oracle caveat (pinned by tests/test_entity.py): Spark's levenshtein counts
UNICODE CODEPOINTS while DuckDB's counts UTF-8 BYTES — identical on ASCII
(the corpus invariant tests/test_sources_formats.py enforces), divergent on
multi-byte text ('café' -> 'cafe' is 1 in Spark, 2 in DuckDB). The oracle
is therefore exact for this corpus; non-ASCII vocabularies keep the Spark
semantics and lose only the DuckDB mirror.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.functions.hashing import (md5_hash60,
                                                           md5_hash60_sql)

__all__ = ["name_vocabulary", "fuzzy_name_pairs", "resolve_entities"]

# one definition point for the blocking + verify rule (both engines).
# MAX_DIST=3 is calibrated to the synthetic part vocabulary (adjective +
# noun pairs): distance <=2 matches nothing there, so the driver gate would
# be vacuous; 3 yields non-trivial pairs AND multi-name components.
MAX_DIST = 3
LEN_BAND = 2


def name_vocabulary(df: DataFrame, name_col: str) -> DataFrame:
    """Distinct non-empty names with their blocking keys and a 60-bit
    engine-neutral id (functions/hashing.py — the component label domain).
    ``F.get(split, 0)`` not element_at (ANSI mode)."""
    return (df.select(F.col(name_col).alias("name"))
              .where(F.col("name").isNotNull() & (F.col("name") != ""))
              .distinct()
              .select("name",
                      md5_hash60(F.col("name")).alias("nid"),
                      F.get(F.split(F.col("name"), " "), 0).alias("block"),
                      F.length("name").alias("ln")))


def fuzzy_name_pairs(df: DataFrame, name_col: str, max_dist: int = MAX_DIST,
                     block_cap: int | None = None) -> DataFrame:
    """Near-duplicate name pairs: block on the first token, keep pairs
    within ``LEN_BAND`` length difference and ``levenshtein <= max_dist``.
    Returns (name_a, name_b, dist) with ``name_a < name_b``.

    ``block_cap``: drop blocks with more than this many distinct names
    (skew guard — a degenerate block is quadratic; production blocking
    would add a second, more discriminative key instead). The cap changes
    RECALL only, never emitted values.
    """
    if max_dist < 1:
        raise ValueError(f"max_dist must be >= 1: {max_dist}")
    vocab = name_vocabulary(df, name_col)
    if block_cap is not None:
        sizes = vocab.groupBy("block").agg(F.count(F.lit(1)).alias("__bn"))
        vocab = (vocab.join(sizes.where(F.col("__bn") > block_cap)
                                 .select("block"),
                            "block", "left_anti"))
    a, b = vocab.alias("a"), vocab.alias("b")
    cand = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.name") < F.col("b.name"))
        & (F.abs(F.col("a.ln") - F.col("b.ln")) <= LEN_BAND))
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (cand.select(F.col("a.name").alias("name_a"),
                        F.col("b.name").alias("name_b"),
                        dist.cast("int").alias("dist"))
                .where(F.col("dist") <= max_dist))


def resolve_entities(df: DataFrame, name_col: str,
                     max_dist: int = MAX_DIST) -> DataFrame:
    """Canonical entity per distinct name: fuzzy pairs -> connected
    components (min-label fixpoint, ``dedup.dedup_components``) -> each
    name mapped to its component representative's name. Singleton names
    (no fuzzy neighbor) map to themselves. Returns (name, canon_name).

    Joining the mapping back to the corpus is the caller's semi-join (the
    clean_corpus doc_id-gate pattern) — this operator stays
    vocabulary-sized end to end.
    """
    from logstash_filter_geoip_spark.operators.dedup import dedup_components

    vocab = name_vocabulary(df, name_col)
    pairs = fuzzy_name_pairs(df, name_col, max_dist=max_dist)
    ids = (pairs.join(vocab.select(F.col("name").alias("name_a"),
                                   F.col("nid").alias("doc_a")), "name_a")
                .join(vocab.select(F.col("name").alias("name_b"),
                                   F.col("nid").alias("doc_b")), "name_b")
                .select("doc_a", "doc_b"))
    comp = dedup_components(ids).select(
        F.col("doc_id").alias("nid"), "component_id")
    canon = vocab.select(F.col("nid").alias("component_id"),
                         F.col("name").alias("canon_name"))
    return (vocab.join(comp, "nid", "left")
                 .join(canon, "component_id", "left")
                 .select("name",
                         F.coalesce("canon_name", "name").alias("canon_name")))


# ---------------------------------------------------------------------------
# driver-contract queries over the part table's name vocabulary
# ---------------------------------------------------------------------------


def _part(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/part.parquet")


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate part names (distinct vocabulary, first-token block,
    levenshtein <= 2 within a +/-2 length band)."""
    return fuzzy_name_pairs(_part(spark, sf_dir), "p_name")


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every distinct part name with its canonical (fuzzy-component
    representative) name — the vocabulary-level entity map."""
    return resolve_entities(_part(spark, sf_dir), "p_name")


# the vocabulary + blocking + verify rule, shared by both oracles
_VOCAB_CTES = f"""
vocab AS (
  SELECT name, {md5_hash60_sql('name')} AS nid,
         split_part(name, ' ', 1) AS block, length(name) AS ln
  FROM (SELECT DISTINCT p_name AS name FROM part
        WHERE p_name IS NOT NULL AND p_name <> '')
),
fpairs AS (
  SELECT a.name AS name_a, b.name AS name_b,
         CAST(levenshtein(a.name, b.name) AS INT) AS dist,
         a.nid AS ida, b.nid AS idb
  FROM vocab a JOIN vocab b
    ON a.block = b.block AND a.name < b.name AND abs(a.ln - b.ln) <= {LEN_BAND}
  WHERE levenshtein(a.name, b.name) <= {MAX_DIST}
)"""


def queries():
    return {
        "fuzzy_name_pairs": q_fuzzy_name_pairs,
        "entity_resolution": q_entity_resolution,
    }


def oracles() -> dict[str, str]:
    return {
        "fuzzy_name_pairs": f"""
WITH {_VOCAB_CTES}
SELECT name_a, name_b, dist FROM fpairs
""",
        # the dedup_components oracle pattern: WITH RECURSIVE transitive
        # closure, component label = min reachable nid, then the label is
        # mapped back to its name; singletons fall through the LEFT JOINs
        "entity_resolution": f"""
WITH RECURSIVE {_VOCAB_CTES},
edges AS (
  SELECT ida AS s, idb AS t FROM fpairs
  UNION SELECT idb, ida FROM fpairs
),
reach(s, t) AS (
  SELECT s, t FROM edges
  UNION
  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
),
comp AS (
  SELECT s AS nid, least(s, min(t)) AS component_id FROM reach GROUP BY s
)
SELECT v.name, COALESCE(cn.name, v.name) AS canon_name
FROM vocab v
LEFT JOIN comp ON v.nid = comp.nid
LEFT JOIN vocab cn ON comp.component_id = cn.nid
""",
    }
