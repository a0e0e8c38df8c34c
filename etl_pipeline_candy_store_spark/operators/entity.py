"""Entity resolution over structured records (record linkage).

The text dedup family (q50-q55, q169) resolves duplicate DOCUMENTS;
this is the sibling every warehouse runs over dimension tables:
multiple registrations of the same real-world entity (typo'd names,
re-registrations) must resolve to one entity id. The classic three
stages, each already a verified primitive in this engine:

1. **Blocking** — candidate pairs only within (nationkey, name-suffix)
   blocks, never the O(n²) pair space (q169's prefix-blocking
   discipline applied to structured attributes). The block key is
   chosen from fields the corruption model does not touch, so true
   matches never cross blocks; block sizes are bounded by the key's
   cardinality, which is the knob a 100 TB deployment tunes.
2. **Pairwise verify** — ``levenshtein(name_a, name_b) <= 1`` within a
   block (identical builtin in Spark and DuckDB, unit costs).
3. **Entity ids** — connected components over the match pairs
   (q54's operator): a registration with two distance-1 variants that
   sit at distance 2 from EACH OTHER still resolves to one entity
   through transitivity — the reason pairs alone are not an answer.

The synthetic customer names are unique, so the relation unions
deterministic dirty re-registrations built IDENTICALLY in both engines
(the q205 variant convention): every 20th customer re-appears with one
mid-digit corrupted (edit distance 1, reg_id + 1e6), and every 60th
ALSO re-appears with a different digit corrupted (reg_id + 2e6) —
those two variants are distance 2 apart, so the 3-record entity exists
only because components propagate through the parent. Corrupted
positions (12, 13) sit outside the blocking suffix (chars 15-18), so
the corruption model respects the block key.

Reference anchor: the reference has no entity resolution (its customer
join is declared but never implemented — SURVEY §2 J2); this extends
the dedup family to the structured-record domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.dedup import connected_components
from etl_pipeline_candy_store_spark.operators.ledger import local_frame
from etl_pipeline_candy_store_spark.plans.catalog import load, register

_ER_V1_OFFSET = 1_000_000
_ER_V2_OFFSET = 2_000_000
_ER_V1_MOD = 20
_ER_V2_MOD = 60
_ER_MAX_DIST = 1

_ER_REGS_SQL = f"""
regs AS (
  SELECT c_custkey AS reg_id, c_name AS name, c_nationkey AS nk
  FROM customer
  UNION ALL
  SELECT c_custkey + {_ER_V1_OFFSET},
         substr(c_name, 1, 11) || 'Z' || substr(c_name, 13), c_nationkey
  FROM customer WHERE c_custkey % {_ER_V1_MOD} = 0
  UNION ALL
  SELECT c_custkey + {_ER_V2_OFFSET},
         substr(c_name, 1, 12) || 'Q' || substr(c_name, 14), c_nationkey
  FROM customer WHERE c_custkey % {_ER_V2_MOD} = 0
)"""


def registrations(customers: DataFrame) -> DataFrame:
    """The customer table plus its deterministic dirty
    re-registrations: (reg_id, name, nk)."""
    base = customers.select(
        F.col("c_custkey").alias("reg_id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
    )
    v1 = customers.filter(F.col("c_custkey") % _ER_V1_MOD == 0).select(
        (F.col("c_custkey") + _ER_V1_OFFSET).alias("reg_id"),
        F.concat(
            F.substring("c_name", 1, 11),
            F.lit("Z"),
            F.expr("substring(c_name, 13)"),
        ).alias("name"),
        F.col("c_nationkey").alias("nk"),
    )
    v2 = customers.filter(F.col("c_custkey") % _ER_V2_MOD == 0).select(
        (F.col("c_custkey") + _ER_V2_OFFSET).alias("reg_id"),
        F.concat(
            F.substring("c_name", 1, 12),
            F.lit("Q"),
            F.expr("substring(c_name, 14)"),
        ).alias("name"),
        F.col("c_nationkey").alias("nk"),
    )
    return base.unionByName(v1).unionByName(v2)


def match_pairs(regs: DataFrame, max_dist: int = _ER_MAX_DIST) -> DataFrame:
    """Blocked pairwise matching: candidates share (nk, name chars
    15-18), verified by edit distance — one block-keyed equi-join,
    never a cross product."""
    blocked = regs.select(
        "reg_id", "name", "nk", F.substring("name", 15, 4).alias("blk")
    )
    a = blocked.select(
        F.col("reg_id").alias("ra"), F.col("name").alias("na"), "nk", "blk"
    )
    b = blocked.select(
        F.col("reg_id").alias("rb"), F.col("name").alias("nb"), "nk", "blk"
    )
    return (
        a.join(b, ["nk", "blk"])
        .filter(F.col("ra") < F.col("rb"))
        .filter(F.levenshtein("na", "nb") <= max_dist)
        .select("ra", "rb")
    )


@register(
    "q213_entity_resolution",
    oracle=f"""
WITH RECURSIVE {_ER_REGS_SQL},
blocked AS (
  SELECT reg_id, name, nk, substr(name, 15, 4) AS blk FROM regs
),
pairs AS (
  SELECT a.reg_id AS ra, b.reg_id AS rb
  FROM blocked a
  JOIN blocked b ON a.nk = b.nk AND a.blk = b.blk AND a.reg_id < b.reg_id
  WHERE levenshtein(a.name, b.name) <= {_ER_MAX_DIST}
),
edges AS (
  SELECT ra AS src, rb AS dst FROM pairs
  UNION
  SELECT rb, ra FROM pairs
),
reach(node, lab) AS (
  SELECT reg_id, reg_id FROM regs
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS reg_id, CAST(MIN(lab) AS BIGINT) AS entity_id
FROM reach GROUP BY node
""",
    doc="Entity resolution over structured records: the customer table "
    "plus deterministic dirty re-registrations (one corrupted digit; "
    "every 60th customer gets TWO variants that are distance 2 from "
    "each other) resolves to per-entity ids via blocking on "
    "(nationkey, name-suffix) -> levenshtein<=1 verify within blocks "
    "-> connected components over match pairs. The 3-record entities "
    "exist only through transitive closure (the two variants never "
    "match each other directly) — pairs alone under-merge. One "
    "block-keyed equi-join builds candidates (never O(n²)); component "
    "label rounds are diameter-bounded (<= 2 here). Singletons "
    "resolve to themselves.",
)
def q213_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    regs = registrations(load(spark, sf_dir, "customer")).localCheckpoint(
        eager=True
    )
    cc = connected_components(match_pairs(regs), "ra", "rb")
    return regs.join(cc, regs["reg_id"] == cc["node"], "left").select(
        F.col("reg_id").cast("long").alias("reg_id"),
        F.coalesce(F.col("label"), F.col("reg_id"))
        .cast("long")
        .alias("entity_id"),
    )


@register(
    "q214_blocking_quality",
    oracle=f"""
WITH {_ER_REGS_SQL},
blocked AS (
  SELECT reg_id, name, nk, substr(name, 15, 4) AS blk FROM regs
),
cand AS (
  SELECT a.reg_id AS ra, b.reg_id AS rb
  FROM blocked a
  JOIN blocked b ON a.nk = b.nk AND a.blk = b.blk AND a.reg_id < b.reg_id
),
truth AS (
  SELECT c_custkey AS ra, c_custkey + {_ER_V1_OFFSET} AS rb
  FROM customer WHERE c_custkey % {_ER_V1_MOD} = 0
  UNION ALL
  SELECT c_custkey, c_custkey + {_ER_V2_OFFSET}
  FROM customer WHERE c_custkey % {_ER_V2_MOD} = 0
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_regs FROM regs),
counts AS (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
      JOIN cand c ON c.ra = t.ra AND c.rb = t.rb) AS n_true_covered,
    n.n_regs
  FROM n
)
SELECT n_regs, n_candidates, n_true, n_true_covered,
       CAST(n_true_covered * 1000000 // n_true AS BIGINT)
         AS pair_completeness_ppm,
       CAST(1000000 - (CAST(n_candidates AS HUGEINT) * 2000000)
            // (CAST(n_regs AS HUGEINT) * (n_regs - 1)) AS BIGINT)
         AS reduction_ratio_ppm
FROM counts
""",
    doc="Blocking-scheme quality report for the q213 resolver — the two "
    "numbers every record-linkage textbook demands before trusting a "
    "blocking key: PAIR COMPLETENESS (fraction of true matches whose "
    "pair survives blocking — the variant construction IS the ground "
    "truth, so this is exact, and 1.0 here because corruption "
    "respects the block key) and REDUCTION RATIO (fraction of the "
    "O(n²) pair space the blocks never generate). Both integer ppm. "
    "One block-keyed candidate count + a broadcast-sized truth join; "
    "at 100 TB this is the cheap pre-flight that says whether the "
    "expensive verify stage gets 10^6 or 10^12 candidates.",
)
def q214_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    regs = registrations(c).localCheckpoint(eager=True)
    blocked = regs.select(
        "reg_id", "nk", F.substring("name", 15, 4).alias("blk")
    )
    cand = (
        blocked.select(F.col("reg_id").alias("ra"), "nk", "blk")
        .join(blocked.select(F.col("reg_id").alias("rb"), "nk", "blk"), ["nk", "blk"])
        .filter(F.col("ra") < F.col("rb"))
        .select("ra", "rb")
    )
    v1 = c.filter(F.col("c_custkey") % _ER_V1_MOD == 0).select(
        F.col("c_custkey").alias("ra"),
        (F.col("c_custkey") + _ER_V1_OFFSET).alias("rb"),
    )
    v2 = c.filter(F.col("c_custkey") % _ER_V2_MOD == 0).select(
        F.col("c_custkey").alias("ra"),
        (F.col("c_custkey") + _ER_V2_OFFSET).alias("rb"),
    )
    truth = v1.unionByName(v2)
    covered = truth.join(cand, ["ra", "rb"], "left_semi")
    stats = (
        regs.agg(F.count(F.lit(1)).cast("long").alias("n_regs"))
        .crossJoin(
            F.broadcast(
                cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
            )
        )
        .crossJoin(
            F.broadcast(truth.agg(F.count(F.lit(1)).cast("long").alias("n_true")))
        )
        .crossJoin(
            F.broadcast(
                covered.agg(
                    F.count(F.lit(1)).cast("long").alias("n_true_covered")
                )
            )
        )
    )
    return stats.select(
        "n_regs",
        "n_candidates",
        "n_true",
        "n_true_covered",
        F.expr("CAST(n_true_covered * 1000000 div n_true AS BIGINT)").alias(
            "pair_completeness_ppm"
        ),
        # DECIMAL(38,0) staging: at the 100 TB pre-flight (~3e9
        # registrations) n_regs*(n_regs-1) and n_candidates*2000000 both
        # blow past int64; Spark's IntegralDivide on decimals stays exact
        # (HUGEINT on the DuckDB side)
        F.expr(
            "CAST(1000000 - (CAST(n_candidates AS DECIMAL(38,0)) * 2000000)"
            " div (CAST(n_regs AS DECIMAL(38,0)) * (n_regs - 1)) AS BIGINT)"
        ).alias("reduction_ratio_ppm"),
    )


@register(
    "q215_resolution_quality",
    oracle=f"""
WITH RECURSIVE {_ER_REGS_SQL},
blocked AS (
  SELECT reg_id, name, nk, substr(name, 15, 4) AS blk FROM regs
),
pairs AS (
  SELECT a.reg_id AS ra, b.reg_id AS rb
  FROM blocked a
  JOIN blocked b ON a.nk = b.nk AND a.blk = b.blk AND a.reg_id < b.reg_id
  WHERE levenshtein(a.name, b.name) <= {_ER_MAX_DIST}
),
edges AS (
  SELECT ra AS src, rb AS dst FROM pairs
  UNION
  SELECT rb, ra FROM pairs
),
reach(node, lab) AS (
  SELECT reg_id, reg_id FROM regs
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
resolved AS MATERIALIZED (
  SELECT node AS reg_id, CAST(MIN(lab) AS BIGINT) AS entity_id
  FROM reach GROUP BY node
),
implied AS MATERIALIZED (
  SELECT a.reg_id AS ra, b.reg_id AS rb
  FROM resolved a JOIN resolved b
    ON a.entity_id = b.entity_id AND a.reg_id < b.reg_id
),
truth AS MATERIALIZED (
  SELECT c_custkey AS ra, c_custkey + {_ER_V1_OFFSET} AS rb
  FROM customer WHERE c_custkey % {_ER_V1_MOD} = 0
  UNION ALL
  SELECT c_custkey, c_custkey + {_ER_V2_OFFSET}
  FROM customer WHERE c_custkey % {_ER_V2_MOD} = 0
  UNION ALL
  SELECT c_custkey + {_ER_V1_OFFSET}, c_custkey + {_ER_V2_OFFSET}
  FROM customer WHERE c_custkey % {_ER_V2_MOD} = 0
),
counts AS (
  SELECT
    (SELECT CAST(COUNT(DISTINCT entity_id) AS BIGINT) FROM resolved)
      AS n_entities,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM implied) AS n_implied_pairs,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
      JOIN implied i ON i.ra = t.ra AND i.rb = t.rb) AS n_hit
)
SELECT n_entities, n_implied_pairs, n_true_pairs, n_hit,
       CAST(n_hit * 1000000 // n_implied_pairs AS BIGINT)
         AS pair_precision_ppm,
       CAST(n_hit * 1000000 // n_true_pairs AS BIGINT) AS pair_recall_ppm
FROM counts
""",
    doc="Resolution-quality audit for the q213 resolver — pairwise "
    "precision/recall at the ENTITY level, the standard ER evaluation "
    "(q214 audits the blocking stage; this audits the end result). "
    "Implied pairs = all same-entity registration pairs AFTER closure; "
    "truth = all same-TRUE-entity pairs, INCLUDING the variant-variant "
    "pairs that no direct match produces — so recall measures exactly "
    "what transitive closure buys, and precision exposes any distance-1 "
    "block collisions the resolver over-merges. Integer ppm. Implied "
    "pairs are one entity-keyed self-join whose fan-out is bounded by "
    "entity size (<= 3 here; a real deployment caps or samples "
    "mega-entities first — the q135 skew-probe discipline).",
)
def q215_resolution_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    resolved = q213_entity_resolution(spark, sf_dir).localCheckpoint(
        eager=True
    )
    a = resolved.select(F.col("reg_id").alias("ra"), "entity_id")
    b = resolved.select(F.col("reg_id").alias("rb"), "entity_id")
    implied = a.join(b, "entity_id").filter(F.col("ra") < F.col("rb")).select(
        "ra", "rb"
    )
    v1 = c.filter(F.col("c_custkey") % _ER_V1_MOD == 0).select(
        F.col("c_custkey").alias("ra"),
        (F.col("c_custkey") + _ER_V1_OFFSET).alias("rb"),
    )
    v2 = c.filter(F.col("c_custkey") % _ER_V2_MOD == 0).select(
        F.col("c_custkey").alias("ra"),
        (F.col("c_custkey") + _ER_V2_OFFSET).alias("rb"),
    )
    vv = c.filter(F.col("c_custkey") % _ER_V2_MOD == 0).select(
        (F.col("c_custkey") + _ER_V1_OFFSET).alias("ra"),
        (F.col("c_custkey") + _ER_V2_OFFSET).alias("rb"),
    )
    truth = v1.unionByName(v2).unionByName(vv).localCheckpoint(eager=True)
    hit = truth.join(implied, ["ra", "rb"], "left_semi")
    return (
        resolved.agg(
            F.countDistinct("entity_id").cast("long").alias("n_entities")
        )
        .crossJoin(
            F.broadcast(
                implied.agg(
                    F.count(F.lit(1)).cast("long").alias("n_implied_pairs")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
            )
        )
        .crossJoin(
            F.broadcast(hit.agg(F.count(F.lit(1)).cast("long").alias("n_hit")))
        )
        .select(
            "n_entities",
            "n_implied_pairs",
            "n_true_pairs",
            "n_hit",
            F.expr(
                "CAST(n_hit * 1000000 div n_implied_pairs AS BIGINT)"
            ).alias("pair_precision_ppm"),
            F.expr("CAST(n_hit * 1000000 div n_true_pairs AS BIGINT)").alias(
                "pair_recall_ppm"
            ),
        )
    )


# --------------------------------------------------------------------------
# Fellegi-Sunter multi-attribute scoring (q217/q218): q213 matches on ONE
# field at one distance; real record linkage weighs agreement evidence
# across several attributes (Fellegi & Sunter 1969). Each candidate pair
# gets a log-likelihood-ratio score sum(log2(m_k/u_k)) over agreeing
# attributes k plus sum(log2((1-m_k)/(1-u_k))) over disagreeing ones,
# classified by threshold. u_k (chance agreement among non-matches) is
# ESTIMATED from the candidate set itself (one aggregate); m_k (agreement
# among true matches) is a fixed documented prior. All weights are
# integer log2 bins from cross-multiplication only (the q202 discipline:
# a float log could drift an ulp across engines), DECIMAL(38,0)/HUGEINT
# staged so the products survive ~1e12-candidate pre-flights.
# --------------------------------------------------------------------------

_FS_M_NUM, _FS_M_DEN = 15, 16  # m_k prior: P(attribute agrees | match)
# classify match at summed-log2 >= 20: under the capped weights a pair
# must agree on name AND at least one strong attribute (phone/addr);
# name+mktsegment alone (the best a non-match can do here, score 14)
# stays below the line
_FS_THRESHOLD = 20
_FS_BIN_LO, _FS_BIN_HI = -20, 20


def _fs_bin_case(a: str, b: str) -> str:
    """floor(log2(a/b)) clamped to [lo, hi], by integer comparison ladder
    only — a and b must already be DECIMAL(38,0)/HUGEINT expressions."""
    w = [
        f"WHEN {a} >= {2 ** k} * {b} THEN {k}"
        for k in range(_FS_BIN_HI, 0, -1)
    ]
    w.append(f"WHEN {a} >= {b} THEN 0")
    w += [
        f"WHEN {2 ** (-k)} * {a} >= {b} THEN {k}"
        for k in range(-1, _FS_BIN_LO, -1)
    ]
    return "CASE " + " ".join(w) + f" ELSE {_FS_BIN_LO} END"


# the rich registration relation: base customers plus two deterministic
# dirty variants, each corrupting INSIDE one blocking key so no single
# blocking pass is complete (v1 breaks the phone block, v2 the name
# block) — the multi-pass union is what restores pair completeness.
# The test corpus's customer table carries no phone/address, so both are
# synthesized from c_custkey by integer arithmetic identical in both
# engines (injective mod 1e8 / 1e6, so phones are unique per customer —
# a realistic strong attribute)
_ER_FULL_REGS_SQL = f"""
cbase AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         lpad(CAST((c_custkey * 7919 + 13) % 100000000 AS VARCHAR), 8, '0')
           AS ph,
         'ADDR-' ||
           lpad(CAST((c_custkey * 104729 + 7) % 1000000 AS VARCHAR), 6, '0')
           AS ad
  FROM customer
),
regsf AS (
  SELECT c_custkey AS reg_id, c_name AS name, c_nationkey AS nk,
         ph AS phone, ad AS addr, c_mktsegment AS mkt
  FROM cbase
  UNION ALL
  SELECT c_custkey + {_ER_V1_OFFSET},
         substr(c_name, 1, 11) || 'Z' || substr(c_name, 13), c_nationkey,
         substr(ph, 1, 7) || 'X', ad, c_mktsegment
  FROM cbase WHERE c_custkey % {_ER_V1_MOD} = 0
  UNION ALL
  SELECT c_custkey + {_ER_V2_OFFSET},
         substr(c_name, 1, 16) || 'Q' || substr(c_name, 18), c_nationkey,
         ph, 'XX' || substr(ad, 3), c_mktsegment
  FROM cbase WHERE c_custkey % {_ER_V2_MOD} = 0
)"""

# multi-pass blocking: (nk, name chars 15-18) UNION (nk, full phone);
# v1 survives the name pass, v2 the phone pass
_FS_CAND_SQL = """
cand AS (
  SELECT DISTINCT ra, rb FROM (
    SELECT a.reg_id AS ra, b.reg_id AS rb
    FROM regsf a JOIN regsf b
      ON a.nk = b.nk AND substr(a.name, 17, 2) = substr(b.name, 17, 2)
     AND a.reg_id < b.reg_id
    UNION ALL
    SELECT a.reg_id, b.reg_id
    FROM regsf a JOIN regsf b
      ON a.nk = b.nk AND a.phone = b.phone
     AND a.reg_id < b.reg_id
  )
)"""

_FS_ATTRS = ("name", "phone", "addr", "mkt")


def registrations_full(customers: DataFrame) -> DataFrame:
    """(reg_id, name, nk, phone, addr, mkt) with the two dirty variants
    of :data:`_ER_FULL_REGS_SQL` built identically in Spark."""
    cbase = customers.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.lpad(
            ((F.col("c_custkey") * 7919 + 13) % 100_000_000).cast("string"),
            8,
            "0",
        ).alias("ph"),
        F.concat(
            F.lit("ADDR-"),
            F.lpad(
                ((F.col("c_custkey") * 104729 + 7) % 1_000_000).cast("string"),
                6,
                "0",
            ),
        ).alias("ad"),
    )
    base = cbase.select(
        F.col("c_custkey").alias("reg_id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.col("ph").alias("phone"),
        F.col("ad").alias("addr"),
        F.col("c_mktsegment").alias("mkt"),
    )
    v1 = cbase.filter(F.col("c_custkey") % _ER_V1_MOD == 0).select(
        (F.col("c_custkey") + _ER_V1_OFFSET).alias("reg_id"),
        F.concat(
            F.substring("c_name", 1, 11),
            F.lit("Z"),
            F.expr("substring(c_name, 13)"),
        ).alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.concat(F.substring("ph", 1, 7), F.lit("X")).alias("phone"),
        F.col("ad").alias("addr"),
        F.col("c_mktsegment").alias("mkt"),
    )
    v2 = cbase.filter(F.col("c_custkey") % _ER_V2_MOD == 0).select(
        (F.col("c_custkey") + _ER_V2_OFFSET).alias("reg_id"),
        F.concat(
            F.substring("c_name", 1, 16),
            F.lit("Q"),
            F.expr("substring(c_name, 18)"),
        ).alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.col("ph").alias("phone"),
        F.concat(F.lit("XX"), F.expr("substring(ad, 3)")).alias("addr"),
        F.col("c_mktsegment").alias("mkt"),
    )
    return base.unionByName(v1).unionByName(v2)


def fs_candidates(regsf: DataFrame) -> DataFrame:
    """Multi-pass blocked candidate pairs carrying both sides'
    attributes: union of the (nk, name-suffix) and (nk, phone-suffix)
    passes, deduped on (ra, rb). Each pass is one block-keyed equi-join;
    the O(n²) space never materializes."""
    withkeys = regsf.select(
        "reg_id",
        "name",
        "nk",
        "phone",
        "addr",
        "mkt",
        F.substring("name", 17, 2).alias("blk_name"),
        F.col("phone").alias("blk_phone"),
    )

    def _pass(key: str) -> DataFrame:
        a = withkeys.select(
            F.col("reg_id").alias("ra"),
            F.col("name").alias("name_a"),
            F.col("phone").alias("phone_a"),
            F.col("addr").alias("addr_a"),
            F.col("mkt").alias("mkt_a"),
            "nk",
            key,
        )
        b = withkeys.select(
            F.col("reg_id").alias("rb"),
            F.col("name").alias("name_b"),
            F.col("phone").alias("phone_b"),
            F.col("addr").alias("addr_b"),
            F.col("mkt").alias("mkt_b"),
            "nk",
            key,
        )
        return (
            a.join(b, ["nk", key])
            .filter(F.col("ra") < F.col("rb"))
            .drop("nk", key)
        )

    # first-pass-wins dedup on the pair key, q68's first-agreeing-band
    # trick generalized to blocking passes: cheaper than distinct over
    # the attribute-wide rows
    return (
        _pass("blk_name")
        .withColumn("bpass", F.lit(0))
        .unionByName(_pass("blk_phone").withColumn("bpass", F.lit(1)))
        .groupBy("ra", "rb")
        .agg(
            F.min_by("name_a", "bpass").alias("name_a"),
            F.min_by("name_b", "bpass").alias("name_b"),
            F.min_by("phone_a", "bpass").alias("phone_a"),
            F.min_by("phone_b", "bpass").alias("phone_b"),
            F.min_by("addr_a", "bpass").alias("addr_a"),
            F.min_by("addr_b", "bpass").alias("addr_b"),
            F.min_by("mkt_a", "bpass").alias("mkt_a"),
            F.min_by("mkt_b", "bpass").alias("mkt_b"),
        )
    )


def fs_gamma(cand: DataFrame) -> DataFrame:
    """Per-pair agreement pattern: name agrees within edit distance 1,
    the rest agree on equality. Integer 0/1 flags."""
    return cand.select(
        "ra",
        "rb",
        (F.levenshtein("name_a", "name_b") <= 1).cast("int").alias("g_name"),
        (F.col("phone_a") == F.col("phone_b")).cast("int").alias("g_phone"),
        (F.col("addr_a") == F.col("addr_b")).cast("int").alias("g_addr"),
        (F.col("mkt_a") == F.col("mkt_b")).cast("int").alias("g_mkt"),
    )


def fs_blocked_gamma(regsf: DataFrame) -> DataFrame:
    """``fs_gamma(fs_candidates(regsf))``, fused (r16): the agreement
    flags are computed per blocking pass BEFORE the (ra, rb) pair
    dedup, so the dedup exchange carries four 0/1 ints instead of
    eight attribute strings and the eight ``min_by`` aggregates
    collapse to four ``max`` (guide §2.3 — shuffle fewer bytes: a pair
    found by both passes compares the SAME two registrations, so its
    flags are identical and first-pass-wins over attributes fed
    exactly these flags to ``fs_gamma``). ``regsf`` is consumed by
    four join sides across the two passes — callers that also derive
    the u-weight pass from it (q217/q220) checkpoint it first so the
    registration build runs once."""
    withkeys = regsf.select(
        "reg_id",
        "name",
        "nk",
        "phone",
        "addr",
        "mkt",
        F.substring("name", 17, 2).alias("blk_name"),
        F.col("phone").alias("blk_phone"),
    )

    def _pass(key: str) -> DataFrame:
        a = withkeys.select(
            F.col("reg_id").alias("ra"),
            F.col("name").alias("name_a"),
            F.col("phone").alias("phone_a"),
            F.col("addr").alias("addr_a"),
            F.col("mkt").alias("mkt_a"),
            "nk",
            key,
        )
        b = withkeys.select(
            F.col("reg_id").alias("rb"),
            F.col("name").alias("name_b"),
            F.col("phone").alias("phone_b"),
            F.col("addr").alias("addr_b"),
            F.col("mkt").alias("mkt_b"),
            "nk",
            key,
        )
        return fs_gamma(
            a.join(b, ["nk", key]).filter(F.col("ra") < F.col("rb"))
        )

    return (
        _pass("blk_name")
        .unionByName(_pass("blk_phone"))
        .groupBy("ra", "rb")
        .agg(
            *[
                F.max(f"g_{k}").cast("int").alias(f"g_{k}")
                for k in _FS_ATTRS
            ]
        )
    )


def fs_random_pair_gamma(regsf: DataFrame) -> DataFrame:
    """Agreement patterns over deterministic RANDOM pairings of the base
    registrations — reg k paired with reg k+17 (a stride that always
    changes at least two name digits, so no accidental near-agreement).
    This is where the u-probabilities come from: estimating u from the
    blocked candidates would be circular (blocking enriches matches, so
    u→m and the weights degenerate — the classic FS pitfall)."""
    base = regsf.filter(F.col("reg_id") < _ER_V1_OFFSET)
    a = base.select(
        F.col("reg_id").alias("ra"),
        F.col("name").alias("name_a"),
        F.col("phone").alias("phone_a"),
        F.col("addr").alias("addr_a"),
        F.col("mkt").alias("mkt_a"),
    )
    b = base.select(
        (F.col("reg_id") - 17).alias("ra"),
        F.col("reg_id").alias("rb"),
        F.col("name").alias("name_b"),
        F.col("phone").alias("phone_b"),
        F.col("addr").alias("addr_b"),
        F.col("mkt").alias("mkt_b"),
    )
    return fs_gamma(a.join(b, "ra"))


def fs_weights(gamma_u: DataFrame) -> DataFrame:
    """ONE-row weight frame: per attribute k, the agree weight
    floor(log2(m/u_k)) and disagree weight floor(log2((1-m)/(1-u_k))),
    with u_k = n_agree_k / n_cand estimated from the random-pairing
    gamma (:func:`fs_random_pair_gamma`) and m = 15/16 the documented
    prior. Integer ladder over DECIMAL(38,0) products — no float log
    anywhere; u_k = 0 clamps the agree weight at the ladder cap."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_cand")]
    aggs += [
        F.sum(f"g_{k}").cast("long").alias(f"n_{k}") for k in _FS_ATTRS
    ]
    u = gamma_u.agg(*aggs)
    dec = "DECIMAL(38,0)"
    cols = []
    for k in _FS_ATTRS:
        a_agree = f"CAST({_FS_M_NUM} AS {dec}) * n_cand"
        b_agree = f"CAST({_FS_M_DEN} AS {dec}) * n_{k}"
        a_dis = f"CAST({_FS_M_DEN - _FS_M_NUM} AS {dec}) * n_cand"
        b_dis = f"CAST({_FS_M_DEN} AS {dec}) * (n_cand - n_{k})"
        cols.append(F.expr(_fs_bin_case(a_agree, b_agree)).alias(f"wa_{k}"))
        cols.append(F.expr(_fs_bin_case(a_dis, b_dis)).alias(f"wd_{k}"))
    return u.select(*cols)


def fs_scores(regsf: DataFrame) -> DataFrame:
    """Fellegi-Sunter scored candidate pairs: (ra, rb, g_*, score,
    is_match). The weight frame is 1 row, broadcast back over the
    candidates. The registration relation feeds five join sides (two
    blocking passes' a/b + the random-pairing u-estimate) — one lazy
    checkpoint makes its build run once instead of per branch (r16)."""
    regsf = regsf.localCheckpoint(eager=False)
    gamma = fs_blocked_gamma(regsf)
    w = fs_weights(fs_random_pair_gamma(regsf))
    score = None
    for k in _FS_ATTRS:
        term = F.when(F.col(f"g_{k}") == 1, F.col(f"wa_{k}")).otherwise(
            F.col(f"wd_{k}")
        )
        score = term if score is None else score + term
    return gamma.crossJoin(F.broadcast(w)).select(
        "ra",
        "rb",
        "g_name",
        "g_phone",
        "g_addr",
        "g_mkt",
        score.cast("long").alias("score"),
        (score >= _FS_THRESHOLD).cast("int").alias("is_match"),
    )


def _fs_score_sql() -> str:
    """The per-pair score as SQL over gamma columns g_* and weight
    columns wa_*/wd_* (same names as the Spark frames)."""
    return " + ".join(
        f"CASE WHEN g_{k} = 1 THEN wa_{k} ELSE wd_{k} END" for k in _FS_ATTRS
    )


_FS_GAMMA_SQL = f"""
gamma AS (
  SELECT c.ra, c.rb,
         CASE WHEN levenshtein(a.name, b.name) <= 1 THEN 1 ELSE 0 END AS g_name,
         CASE WHEN a.phone = b.phone THEN 1 ELSE 0 END AS g_phone,
         CASE WHEN a.addr = b.addr THEN 1 ELSE 0 END AS g_addr,
         CASE WHEN a.mkt = b.mkt THEN 1 ELSE 0 END AS g_mkt
  FROM cand c
  JOIN regsf a ON a.reg_id = c.ra
  JOIN regsf b ON b.reg_id = c.rb
),
ugamma AS (
  SELECT
    CASE WHEN levenshtein(a.name, b.name) <= 1 THEN 1 ELSE 0 END AS g_name,
    CASE WHEN a.phone = b.phone THEN 1 ELSE 0 END AS g_phone,
    CASE WHEN a.addr = b.addr THEN 1 ELSE 0 END AS g_addr,
    CASE WHEN a.mkt = b.mkt THEN 1 ELSE 0 END AS g_mkt
  FROM regsf a JOIN regsf b ON b.reg_id = a.reg_id + 17
  WHERE a.reg_id < {_ER_V1_OFFSET} AND b.reg_id < {_ER_V1_OFFSET}
)"""


def _fs_weights_sql() -> str:
    parts = []
    for k in _FS_ATTRS:
        a_agree = f"CAST({_FS_M_NUM} AS HUGEINT) * n_cand"
        b_agree = f"CAST({_FS_M_DEN} AS HUGEINT) * n_{k}"
        a_dis = f"CAST({_FS_M_DEN - _FS_M_NUM} AS HUGEINT) * n_cand"
        b_dis = f"CAST({_FS_M_DEN} AS HUGEINT) * (n_cand - n_{k})"
        parts.append(f"{_fs_bin_case(a_agree, b_agree)} AS wa_{k}")
        parts.append(f"{_fs_bin_case(a_dis, b_dis)} AS wd_{k}")
    sums = ", ".join(
        [f"CAST(SUM(g_{k}) AS BIGINT) AS n_{k}" for k in _FS_ATTRS]
    )
    return f"""
u AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand, {sums} FROM ugamma),
w AS (SELECT {", ".join(parts)} FROM u)"""


@register(
    "q217_fellegi_sunter",
    oracle=f"""
WITH {_ER_FULL_REGS_SQL.strip()},
{_FS_CAND_SQL.strip()},
{_FS_GAMMA_SQL.strip()},
{_fs_weights_sql().strip()}
SELECT g.ra, g.rb,
       CAST(g_name AS INT) AS g_name, CAST(g_phone AS INT) AS g_phone,
       CAST(g_addr AS INT) AS g_addr, CAST(g_mkt AS INT) AS g_mkt,
       CAST({_fs_score_sql()} AS BIGINT) AS score,
       CAST(CASE WHEN {_fs_score_sql()} >= {_FS_THRESHOLD}
            THEN 1 ELSE 0 END AS INT) AS is_match
FROM gamma g CROSS JOIN w
""",
    doc="Fellegi-Sunter multi-attribute record-linkage scoring: "
    "candidates from TWO blocking passes (nk+name-suffix, "
    "nk+phone-suffix — each dirty variant defeats exactly one pass, so "
    "only the union is complete), per-pair agreement pattern over "
    "(name<=1 edit, phone, addr, mktsegment), score = sum of "
    "floor(log2(m/u_k)) over agreements + floor(log2((1-m)/(1-u_k))) "
    "over disagreements with u_k estimated from deterministic RANDOM "
    "pairings (stride-17, never from the match-enriched candidate set "
    "— the classic circularity pitfall) and m=15/16 a documented "
    "prior, threshold-classified. Weights are "
    "integer comparison-ladder log2 bins over DECIMAL(38,0)/HUGEINT "
    "products (q202 discipline) — both engines bit-identical, and the "
    "staging survives ~1e12-candidate deployments. Plan: one union of "
    "two block-keyed equi-joins, first-pass-wins dedup (q68 trick), "
    "ONE 1-row aggregate for u, broadcast back — never O(n²), no "
    "second scan of the candidate relation.",
)
def q217_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fs_scores(registrations_full(load(spark, sf_dir, "customer")))


@register(
    "q218_blocking_quality_multi",
    oracle=f"""
WITH {_ER_FULL_REGS_SQL.strip()},
passes AS (
  SELECT 'name_sfx' AS scheme, a.reg_id AS ra, b.reg_id AS rb
  FROM regsf a JOIN regsf b
    ON a.nk = b.nk AND substr(a.name, 17, 2) = substr(b.name, 17, 2)
   AND a.reg_id < b.reg_id
  UNION ALL
  SELECT 'phone_sfx', a.reg_id, b.reg_id
  FROM regsf a JOIN regsf b
    ON a.nk = b.nk AND a.phone = b.phone
   AND a.reg_id < b.reg_id
),
schemes AS (
  SELECT scheme, ra, rb FROM passes
  UNION
  SELECT 'union', ra, rb FROM passes
),
truth AS (
  SELECT c_custkey AS ra, c_custkey + {_ER_V1_OFFSET} AS rb
  FROM customer WHERE c_custkey % {_ER_V1_MOD} = 0
  UNION ALL
  SELECT c_custkey, c_custkey + {_ER_V2_OFFSET}
  FROM customer WHERE c_custkey % {_ER_V2_MOD} = 0
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_regs FROM regsf),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth),
per AS (
  SELECT scheme,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(SUM(CASE WHEN EXISTS (
             SELECT 1 FROM truth t2 WHERE t2.ra = s.ra AND t2.rb = s.rb
           ) THEN 1 ELSE 0 END) AS BIGINT) AS n_true_covered
  FROM schemes s GROUP BY scheme
)
SELECT scheme, n_candidates, n_true, n_true_covered,
       CAST(n_true_covered * 1000000 // n_true AS BIGINT)
         AS pair_completeness_ppm,
       CAST(1000000 - (CAST(n_candidates AS HUGEINT) * 2000000)
            // (CAST(n_regs AS HUGEINT) * (n_regs - 1)) AS BIGINT)
         AS reduction_ratio_ppm
FROM per CROSS JOIN n CROSS JOIN t
""",
    doc="q214's blocking audit re-run on the multi-attribute scheme: "
    "pair completeness + reduction ratio per blocking pass AND for "
    "their union. The corruption model defeats each single pass (v1 "
    "breaks the phone block, v2 the name block), so the per-pass rows "
    "show completeness ~750000/~250000 ppm while the union restores "
    "1000000 — the number that justifies multi-pass blocking at "
    "100 TB. DECIMAL/HUGEINT-staged ppm math as in q214.",
)
def q218_blocking_quality_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    regsf = registrations_full(c).localCheckpoint(eager=True)
    keyed = regsf.select(
        "reg_id",
        "nk",
        F.substring("name", 17, 2).alias("blk_name"),
        F.col("phone").alias("blk_phone"),
    )

    def _pass(key: str, scheme: str) -> DataFrame:
        a = keyed.select(F.col("reg_id").alias("ra"), "nk", key)
        b = keyed.select(F.col("reg_id").alias("rb"), "nk", key)
        return (
            a.join(b, ["nk", key])
            .filter(F.col("ra") < F.col("rb"))
            .select(F.lit(scheme).alias("scheme"), "ra", "rb")
        )

    passes = _pass("blk_name", "name_sfx").unionByName(
        _pass("blk_phone", "phone_sfx")
    )
    schemes = passes.unionByName(
        passes.select(F.lit("union").alias("scheme"), "ra", "rb")
    ).distinct()

    v1 = c.filter(F.col("c_custkey") % _ER_V1_MOD == 0).select(
        F.col("c_custkey").alias("ra"),
        (F.col("c_custkey") + _ER_V1_OFFSET).alias("rb"),
    )
    v2 = c.filter(F.col("c_custkey") % _ER_V2_MOD == 0).select(
        F.col("c_custkey").alias("ra"),
        (F.col("c_custkey") + _ER_V2_OFFSET).alias("rb"),
    )
    truth = v1.unionByName(v2).localCheckpoint(eager=True)
    covered = schemes.join(F.broadcast(truth), ["ra", "rb"], "left_semi")
    per = (
        schemes.groupBy("scheme")
        .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        .join(
            covered.groupBy("scheme").agg(
                F.count(F.lit(1)).cast("long").alias("n_true_covered")
            ),
            "scheme",
            "left",
        )
        .withColumn(
            "n_true_covered",
            F.coalesce("n_true_covered", F.lit(0)).cast("long"),
        )
    )
    return (
        per.crossJoin(
            F.broadcast(
                regsf.agg(F.count(F.lit(1)).cast("long").alias("n_regs"))
            )
        )
        .crossJoin(
            F.broadcast(
                truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
            )
        )
        .select(
            "scheme",
            "n_candidates",
            "n_true",
            "n_true_covered",
            F.expr(
                "CAST(n_true_covered * 1000000 div n_true AS BIGINT)"
            ).alias("pair_completeness_ppm"),
            F.expr(
                "CAST(1000000 - (CAST(n_candidates AS DECIMAL(38,0))"
                " * 2000000) div (CAST(n_regs AS DECIMAL(38,0))"
                " * (n_regs - 1)) AS BIGINT)"
            ).alias("reduction_ratio_ppm"),
        )
    )


# --------------------------------------------------------------------------
# q220 — unsupervised EM estimation of the Fellegi-Sunter parameters
# (classification-EM / Winkler's unsupervised linkage): q217 bootstraps
# with a FIXED m prior and random-pairing u; real deployments learn both
# from the candidate population. Hard-EM keeps every stage integer:
# classify pairs with the current integer weights, re-estimate m_k
# (agreement rate among classified matches) and u_k (among classified
# non-matches) with add-one smoothing, re-bin through the comparison
# ladder, and iterate to a (weights, threshold) fixpoint. The decision
# threshold is NOT fixed after the bootstrap round: it is the prevalence
# log-odds floor(log2(n_nonmatch/n_match)) — the posterior-ratio > 1
# rule a mixture model implies — re-derived each round via the same
# ladder, so the whole loop is deterministic integer arithmetic.
# --------------------------------------------------------------------------


def _fs_bin_py(a: int, b: int) -> int:
    """Exact Python mirror of :func:`_fs_bin_case` (same clamp, same
    b == 0 behavior: the a >= 2^k * 0 comparison is true, so the ladder
    caps at the top)."""
    for k in range(_FS_BIN_HI, 0, -1):
        if a >= (1 << k) * b:
            return k
    if a >= b:
        return 0
    for k in range(-1, _FS_BIN_LO, -1):
        if (1 << -k) * a >= b:
            return k
    return _FS_BIN_LO


def fs_em_train(
    regsf: DataFrame,
    *,
    max_iters: int = 10,
    exact_iters: int | None = None,
) -> tuple[dict, list[dict]]:
    """Hard-EM over the blocked candidate gammas. Returns the final
    (weights, threshold) dict and the per-iteration trajectory
    (iteration i reports the weights/threshold USED and the match count
    they produced). Converges when (weights, threshold) reproduce
    themselves; raises past ``max_iters`` (the kcore_fixpoint
    discipline); ``exact_iters`` runs a fixed count for the q220 oracle
    pairing. Per iteration: ONE aggregate over the (checkpointed,
    pair-sized) gamma relation and driver-side ladder arithmetic on the
    eight resulting counts — no per-pair Python, no extra shuffles."""
    spark = regsf.sparkSession
    # the registration relation feeds five join sides (blocking passes
    # + u-estimate pairing): one lazy checkpoint -> built once (r16)
    regsf = regsf.localCheckpoint(eager=False)
    gamma = fs_blocked_gamma(regsf).localCheckpoint(eager=True)
    wrow = fs_weights(fs_random_pair_gamma(regsf)).collect()[0].asDict()
    w = {k: (wrow[f"wa_{k}"], wrow[f"wd_{k}"]) for k in _FS_ATTRS}
    th = _FS_THRESHOLD
    traj: list[dict] = []
    rounds = exact_iters if exact_iters is not None else max_iters
    converged = False
    for it in range(1, rounds + 1):
        score = None
        for k in _FS_ATTRS:
            term = F.when(
                F.col(f"g_{k}") == 1, F.lit(w[k][0])
            ).otherwise(F.lit(w[k][1]))
            score = term if score is None else score + term
        cls = gamma.withColumn(
            "m", (score >= F.lit(th)).cast("long")
        )
        aggs = [
            F.count(F.lit(1)).cast("long").alias("n_c"),
            F.sum("m").cast("long").alias("n_m"),
        ]
        for k in _FS_ATTRS:
            aggs.append(
                F.sum(F.col("m") * F.col(f"g_{k}"))
                .cast("long")
                .alias(f"am_{k}")
            )
            aggs.append(
                F.sum((1 - F.col("m")) * F.col(f"g_{k}"))
                .cast("long")
                .alias(f"au_{k}")
            )
        c = cls.agg(*aggs).collect()[0].asDict()
        row = {"iter": it, "n_cand": c["n_c"], "n_match": c["n_m"], "threshold": th}
        for k in _FS_ATTRS:
            row[f"wa_{k}"], row[f"wd_{k}"] = w[k]
        traj.append(row)
        n_m, n_c = c["n_m"], c["n_c"]
        n_u = n_c - n_m
        new_w = {}
        for k in _FS_ATTRS:
            am, au = c[f"am_{k}"], c[f"au_{k}"]
            # m_k = (am+1)/(n_m+2), u_k = (au+1)/(n_u+2); ladder the two
            # ratios by cross-multiplication (all python ints — exact)
            new_w[k] = (
                _fs_bin_py((am + 1) * (n_u + 2), (au + 1) * (n_m + 2)),
                _fs_bin_py(
                    (n_m + 1 - am) * (n_u + 2), (n_u + 1 - au) * (n_m + 2)
                ),
            )
        new_th = _fs_bin_py(n_u + 1, n_m + 1)
        if exact_iters is None and new_w == w and new_th == th:
            converged = True
            break
        w, th = new_w, new_th
    if exact_iters is None and not converged:
        raise RuntimeError(
            f"fs_em_train did not converge within {max_iters} iterations"
        )
    final = {f"wa_{k}": w[k][0] for k in _FS_ATTRS}
    final.update({f"wd_{k}": w[k][1] for k in _FS_ATTRS})
    final["threshold"] = th
    return final, traj


_FS_TRAJ_SCHEMA = (
    "iter bigint, n_cand bigint, n_match bigint, threshold bigint, "
    + ", ".join(
        f"wa_{k} bigint, wd_{k} bigint" for k in _FS_ATTRS
    )
)


def _q220_oracle(iters: int = 3) -> str:
    """CTE unroll of ``fs_em_train(exact_iters=iters)``: cls{i} scores
    gamma with w{i-1}/th{i-1}, cnt{i} aggregates the class-conditional
    agreement counts, w{i}/th{i} re-bin via the ladder."""
    parts = [
        f"WITH {_ER_FULL_REGS_SQL.strip()},",
        f"{_FS_CAND_SQL.strip()},",
        f"{_FS_GAMMA_SQL.strip()},",
        f"{_fs_weights_sql().strip()},",
        f"w0 AS (SELECT *, CAST({_FS_THRESHOLD} AS BIGINT) AS th FROM w),",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f"""cls{i} AS (
  SELECT g.*, CASE WHEN {_fs_score_sql()} >= w.th THEN 1 ELSE 0 END AS m
  FROM gamma g CROSS JOIN w{p} w
),"""
        )
        sums = ", ".join(
            f"CAST(SUM(m * g_{k}) AS BIGINT) AS am_{k},"
            f" CAST(SUM((1 - m) * g_{k}) AS BIGINT) AS au_{k}"
            for k in _FS_ATTRS
        )
        parts.append(
            f"""cnt{i} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_c, CAST(SUM(m) AS BIGINT) AS n_m,
         {sums}
  FROM cls{i}
),"""
        )
        wcols = []
        for k in _FS_ATTRS:
            a_a = f"CAST(am_{k} + 1 AS HUGEINT) * (n_c - n_m + 2)"
            b_a = f"CAST(au_{k} + 1 AS HUGEINT) * (n_m + 2)"
            a_d = f"CAST(n_m + 1 - am_{k} AS HUGEINT) * (n_c - n_m + 2)"
            b_d = f"CAST(n_c - n_m + 1 - au_{k} AS HUGEINT) * (n_m + 2)"
            wcols.append(f"{_fs_bin_case(a_a, b_a)} AS wa_{k}")
            wcols.append(f"{_fs_bin_case(a_d, b_d)} AS wd_{k}")
        parts.append(
            f"""w{i} AS (
  SELECT {", ".join(wcols)},
         CAST({_fs_bin_case(
             "CAST(n_c - n_m + 1 AS HUGEINT)", "(n_m + 1)"
         )} AS BIGINT) AS th
  FROM cnt{i}
),"""
        )
    rows = "\nUNION ALL\n".join(
        f"""SELECT CAST({i} AS BIGINT) AS iter, c.n_c AS n_cand,
       c.n_m AS n_match, CAST(w.th AS BIGINT) AS threshold,
       {", ".join(
           f"CAST(w.wa_{k} AS BIGINT) AS wa_{k},"
           f" CAST(w.wd_{k} AS BIGINT) AS wd_{k}"
           for k in _FS_ATTRS
       )}
FROM cnt{i} c CROSS JOIN w{i - 1} w"""
        for i in range(1, iters + 1)
    )
    body = "\n".join(parts).rstrip().rstrip(",")
    return f"{body}\n{rows}\n"


@register(
    "q220_fellegi_sunter_em",
    oracle=_q220_oracle(3),
    doc="Unsupervised EM estimation of the Fellegi-Sunter parameters "
    "(classification-EM): start from q217's bootstrap weights (fixed "
    "m prior, random-pairing u), then iterate classify -> class-"
    "conditional agreement counts -> add-one-smoothed m/u re-binned "
    "through the integer comparison ladder -> prevalence log-odds "
    "threshold floor(log2(n_nonmatch/n_match)) (the posterior-ratio "
    "rule, re-derived per round through the SAME ladder). 3-iteration "
    "trajectory row per round: the weights/threshold USED and the "
    "match count they produced — the oracle unrolls the identical "
    "rounds as CTE chains over HUGEINT products. The open-ended "
    "fs_em_train converges when (weights, threshold) reproduce "
    "themselves and raises past max_iters (kcore_fixpoint "
    "discipline). EM learns what the bootstrap cannot see: name "
    "agreement is COMMON among blocked non-matches here, so its "
    "learned agree-weight collapses toward 0 while phone/addr "
    "dominate — tested, along with classification equivalence to the "
    "synthetic truth at the learned fixpoint.",
)
def q220_fellegi_sunter_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, traj = fs_em_train(
        registrations_full(load(spark, sf_dir, "customer")), exact_iters=3
    )
    cols = ["iter", "n_cand", "n_match", "threshold"] + [
        c for k in _FS_ATTRS for c in (f"wa_{k}", f"wd_{k}")
    ]
    return local_frame(
        spark,
        [tuple(t[c] for c in cols) for t in traj], _FS_TRAJ_SCHEMA
    )
