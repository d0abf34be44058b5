"""Generic reconciliation API — the engine's user-facing surface.

The reference's central object is the reconciliation pair config: (source
table, target table, key columns, compare columns) from which it generates
every per-check query (SURVEY.md §1.1, genre-defining). This module is that
config object for the Spark engine: a :class:`ReconPair` describes WHAT to
reconcile; each method composes the corresponding distributed check and
returns a report DataFrame. It is the one implementation of every row-level
check: the fixed ``recon_*`` queries that run one (row counts, key diff,
duplicate keys, row hash, sample audit, summary) call it on the standard
faulty orders pair built by :func:`orders_pair`. Users reconcile their own
tables the same way::

    pair = ReconPair(
        source=spark.read.parquet("s3://prod/orders"),
        target=spark.read.parquet("s3://replica/orders"),
        keys=["o_orderkey"],
        compare_cols={"o_totalprice": "double", "o_orderstatus": "string"},
        tolerance=0.01,
    )
    pair.summary()        # one-row MATCH/DIFF rollup of every check
    pair.row_counts("o_orderstatus")
    pair.key_diff()       # keys missing per side
    pair.duplicate_keys()
    pair.row_hash_diff()  # md5 canonical row fingerprint mismatches
    pair.cell_diff()      # (key, column, src_val, tgt_val) mismatch rows
    pair.fingerprints()   # per-column algebraic fingerprints both sides
    pair.drift("o_totalprice", width=50000.0)  # PSI distribution drift
    pair.sample_audit("0")  # row-hash audit on a deterministic 1/16 sample

Every report is algebraic/partially-aggregatable or a key-shuffled join —
the shapes that hold at 100 TB (SURVEY.md §7.3.7).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..canonical import (
    MONEY_SCALE,
    canonical_row_hash,
    canonical_row_hash_sql,
    dround,
)
from ..catalog import load
from ..registry import query
from .recon import _ORDER_HASH_COLS, ORDERS_TGT_CTE, orders_target

#: compare-column kinds accepted by canonical serialization
_KINDS = ("int", "double", "string", "ts")
#: the type a kind's values are fingerprinted in; each cast is injective on
#: the kind's column types, so distinct counts survive it
_KIND_TYPE = {"int": "bigint", "double": "double", "string": "string", "ts": "timestamp"}
#: kinds that also get sum/min/max fingerprints
_NUMERIC = ("int", "double")


@dataclass
class ReconPair:
    source: DataFrame
    target: DataFrame
    keys: list[str]
    #: column → canonical kind ('int' | 'double' | 'string' | 'ts')
    compare_cols: dict[str, str]
    #: numeric tolerance for double comparisons (cell_diff / summary)
    tolerance: float = 0.0

    def __post_init__(self) -> None:
        for col, kind in self.compare_cols.items():
            if kind not in _KINDS:
                raise ValueError(f"{col}: unknown kind {kind!r}; use one of {_KINDS}")
        wanted = [*self.keys, *self.compare_cols]
        missing = [c for c in wanted if c not in self.source.columns]
        if missing:
            raise ValueError(f"columns not in source: {missing}")
        missing_t = [c for c in wanted if c not in self.target.columns]
        if missing_t:
            raise ValueError(f"columns not in target: {missing_t}")

    # -- helpers ----------------------------------------------------------

    def _key(self) -> list[str]:
        return list(self.keys)

    def _hash_cols(self) -> list[tuple[str, str]]:
        return [(k, "int") for k in self.keys] + list(self.compare_cols.items())

    def _differs(self, kind: str, sc: Column, tc: Column) -> Column:
        """Null-safe cell inequality; doubles respect ``tolerance``. With
        tolerance, |s - t| is NULL when either side is null, so the
        null-mismatch arm stands apart where a NULL compare cannot eat it."""
        if kind == "double" and self.tolerance > 0:
            return (sc.isNull() != tc.isNull()) | (
                ~sc.eqNullSafe(tc) & (F.abs(sc - tc) > F.lit(self.tolerance))
            )
        return ~sc.eqNullSafe(tc)

    # -- checks -----------------------------------------------------------

    def row_counts(self, grain: str | None = None) -> DataFrame:
        """Per-grain (or global) row counts with diff + flag."""
        gcols = [grain] if grain else []

        def side(df: DataFrame, name: str) -> DataFrame:
            g = df.groupBy(*gcols) if gcols else df.groupBy()
            return g.agg(F.count("*").alias(name))

        s, t = side(self.source, "src_cnt"), side(self.target, "tgt_cnt")
        j = s.join(t, gcols, "full_outer") if gcols else s.crossJoin(t)
        src, tgt = F.coalesce("src_cnt", F.lit(0)), F.coalesce("tgt_cnt", F.lit(0))
        return j.select(
            *gcols,
            src.alias("src_cnt"),
            tgt.alias("tgt_cnt"),
            (src - tgt).alias("diff"),
            F.when(src == tgt, "MATCH").otherwise("COUNT_DIFF").alias("status"),
        )

    def key_diff(self) -> DataFrame:
        """Keys present on exactly one side: one sort-merge full-outer join
        over the two distinct key sets. Rows are classified by a per-side
        presence marker, not by key NULL-ness, so a NULL key (which never
        joins) still reports on its own side."""
        key = self._key()
        s = self.source.select(*key).distinct().withColumn("_s", F.lit(1))
        t = self.target.select(*key).distinct().withColumn("_t", F.lit(1))
        return (
            s.join(t, key, "full_outer")
            .filter(F.col("_s").isNull() | F.col("_t").isNull())
            .select(
                *key,
                F.when(F.col("_t").isNull(), "MISSING_IN_TARGET")
                .otherwise("MISSING_IN_SOURCE")
                .alias("side"),
            )
        )

    def duplicate_keys(self) -> DataFrame:
        """Keys occurring more than once, per side."""

        def dups(df: DataFrame, side: str) -> DataFrame:
            return (
                df.groupBy(*self._key())
                .agg(F.count("*").alias("cnt"))
                .filter(F.col("cnt") > 1)
                .select(F.lit(side).alias("side"), *self._key(), "cnt")
            )

        return dups(self.source, "source").unionByName(dups(self.target, "target"))

    def row_hash_diff(self) -> DataFrame:
        """Key-matched rows whose canonical md5 fingerprints differ."""
        cols = self._hash_cols()
        sh = self.source.select(*self._key(), canonical_row_hash(cols).alias("h"))
        th = self.target.select(*self._key(), canonical_row_hash(cols).alias("h")).distinct()
        j = sh.alias("s").join(th.alias("t"), self._key())
        return j.filter(F.col("s.h") != F.col("t.h")).select(
            *self._key(),
            F.col("s.h").alias("src_hash"),
            F.col("t.h").alias("tgt_hash"),
        )

    def cell_diff(self) -> DataFrame:
        """One row per (key, differing column): src vs tgt canonical values.
        Doubles respect ``tolerance``; every comparison (tolerance or not)
        is null-safe — a null on exactly one side always reports a diff.

        Duplicate target keys are deduped DETERMINISTICALLY: the survivor is
        the row with the smallest canonical row hash (total order within a
        key group), not whatever partition ``dropDuplicates`` happens to see
        first — so the reported src/tgt values are stable run-to-run and
        reproducible in the SQL oracle."""
        from pyspark.sql.window import Window

        key = self._key()
        s = self.source.alias("s")
        w = Window.partitionBy(*key).orderBy(canonical_row_hash(self._hash_cols()))
        t = (
            self.target.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .alias("t")
        )
        j = s.join(t, [F.col(f"s.{k}") == F.col(f"t.{k}") for k in key])

        arms: list[Column] = []
        for col, kind in self.compare_cols.items():
            sc, tc = F.col(f"s.{col}"), F.col(f"t.{col}")
            arms.append(
                F.when(
                    self._differs(kind, sc, tc),
                    F.struct(
                        F.lit(col).alias("col_name"),
                        sc.cast("string").alias("src_val"),
                        tc.cast("string").alias("tgt_val"),
                    ),
                )
            )
        # A keys-only pair has no arms; an untyped empty array is
        # array<void>, whose fields cannot be extracted.
        diffs = F.array(*arms) if arms else F.array().cast(
            "array<struct<col_name:string,src_val:string,tgt_val:string>>"
        )
        exploded = j.select(
            *[F.col(f"s.{k}").alias(k) for k in key],
            F.explode(F.filter(diffs, lambda x: x.isNotNull())).alias("d"),
        )
        return exploded.select(
            *key,
            F.col("d.col_name").alias("col_name"),
            F.col("d.src_val").alias("src_val"),
            F.col("d.tgt_val").alias("tgt_val"),
        )

    def fingerprints(self) -> DataFrame:
        """Per-column algebraic fingerprints for both sides, unpivoted to
        (metric, src_val, tgt_val, diff, status) rows: ``row_count``, then
        per compare column ``nulls__``, ``distinct__`` and, for numeric
        kinds, ``sum__`` (exact decimal), ``min__`` and ``max__``.

        One pipeline computes both sides. Each row, tagged with its side
        ``_s``, is exploded into slot 0 (the row itself, so ``row_count``
        holds on a keys-only pair) and one slot ``i`` per compare column,
        whose value is cast to its kind's type in ``v_<kind>``. Grouping by
        (``_s``, ``i``, value) gives every distinct value its multiplicity
        ``n``; one conditional global aggregate derives all metrics of both
        sides from those groups, and one ``stack`` unpivots them. The
        per-kind casts are injective (int to bigint, float to double, date
        to timestamp) and happen on each side before the union, as does
        the decimal cast of the sum, so each side's metrics are those of
        its own types. No distinct aggregate is planned, hence no
        ``Expand`` whose column order varies from one read of the same
        files to the next: the generated code is identical on every call,
        and the session's codegen cache serves it."""
        cols = list(self.compare_cols.items())
        kinds = [k for k in _KINDS if k in self.compare_cols.values()]

        def slots(df: DataFrame, tag: int) -> DataFrame:
            def slot(i: int, col: str | None = None, kind: str | None = None) -> Column:
                vals = [
                    (F.col(col) if k == kind else F.lit(None)).cast(_KIND_TYPE[k])
                    .alias(f"v_{k}")
                    for k in kinds
                ]
                money = F.col(col) if kind in _NUMERIC else F.lit(None)
                return F.struct(
                    F.lit(i).alias("i"),
                    *vals,
                    money.cast(f"decimal(18,{MONEY_SCALE})").alias("m"),
                )

            arr = F.array(slot(0), *[slot(i, c, k) for i, (c, k) in enumerate(cols, 1)])
            return df.select(F.lit(tag).alias("_s"), F.explode(arr).alias("x"))

        groups = (
            slots(self.source, 1)
            .unionByName(slots(self.target, 0))
            .select("_s", "x.*")
            .groupBy("_s", "i", *[f"v_{k}" for k in kinds])
            .agg(F.count("*").alias("n"), F.sum("m").alias("m"))
        )
        n, m = F.col("n"), F.col("m")

        def side_metrics(side: Column) -> list[tuple[str, Column]]:
            def at(i: int) -> Column:
                return side & (F.col("i") == i)

            out = [("row_count", F.coalesce(F.sum(F.when(at(0), n)), F.lit(0)))]
            for i, (col, kind) in enumerate(cols, 1):
                v = F.col(f"v_{kind}")
                nulls = F.sum(F.when(at(i), F.when(v.isNull(), n).otherwise(0)))
                out.append((f"nulls__{col}", nulls))
                out.append((f"distinct__{col}", F.count(F.when(at(i) & v.isNotNull(), 1))))
                if kind in _NUMERIC:
                    out.append((f"sum__{col}", F.sum(F.when(at(i), m))))
                    out.append((f"min__{col}", F.min(F.when(at(i), v))))
                    out.append((f"max__{col}", F.max(F.when(at(i), v))))
            return out

        src = side_metrics(F.col("_s") == 1)
        tgt = side_metrics(F.col("_s") == 0)
        fp = groups.agg(
            *[c.cast("double").alias(f"s{j}") for j, (_, c) in enumerate(src)],
            *[c.cast("double").alias(f"t{j}") for j, (_, c) in enumerate(tgt)],
        )
        stack = ", ".join(f"'{name}', s{j}, t{j}" for j, (name, _) in enumerate(src))
        rows = fp.selectExpr(f"stack({len(src)}, {stack}) as (metric, sval, tval)")
        # A metric NULL on both sides (min/max/sum over an empty or all-null
        # side) is equally absent, so MATCH; NULL on exactly one side is a
        # diff. A bare comparison would turn either case into NULL.
        return rows.select(
            "metric",
            dround("sval", 4).alias("src_val"),
            dround("tval", 4).alias("tgt_val"),
            dround(F.col("sval") - F.col("tval"), 4).alias("diff"),
            F.when(
                F.col("sval").eqNullSafe(F.col("tval"))
                | (F.abs(F.col("sval") - F.col("tval")) < 1e-9),
                "MATCH",
            )
            .otherwise("FP_DIFF")
            .alias("status"),
        )

    def drift(self, value_col: str, width: float, top_bucket: int = 9) -> DataFrame:
        """Distribution drift source↔target as per-bucket PSI contributions
        (Σpsi > 0.2 = shifted, by the usual monitoring convention). The
        cheap no-key-join tier: two aggregate scans however many rows
        changed. Delegates to :func:`plans.recon_scale.psi_frame`, whose
        sensitivity is pinned by a synthetic known-drift test."""
        from .recon_scale import psi_frame

        if value_col not in self.compare_cols:
            raise ValueError(f"{value_col}: not a compare column")
        return psi_frame(self.source, self.target, value_col, width, top_bucket)

    def sample_audit(self, prefix: str = "0") -> DataFrame:
        """Full-fidelity canonical-row-hash audit on a deterministic key
        sample: keys whose md5 hex starts with ``prefix`` (1 char = 1/16 of
        keys, 2 chars = 1/256, ...). No RNG state — the same keys sample on
        every run and cluster size, so consecutive audits are comparable.
        The predicate filters both sides BEFORE the join shuffle, so cost
        tracks the sample fraction (the hourly-tier knob; the nightly full
        run is :meth:`row_hash_diff`). The sample is taken on the first key
        column; the join is on every key. Each side is deduplicated on
        (keys, hash), so exact duplicate rows count once."""
        key = self._key()
        pred = F.substring(
            F.md5(F.col(key[0]).cast("string")), 1, len(prefix)
        ) == prefix
        h = canonical_row_hash(self._hash_cols())

        def side(df: DataFrame, name: str) -> DataFrame:
            return df.filter(pred).select(*key, h.alias(name)).distinct()

        # md5 is never NULL, so a NULL hash marks the side a key is absent from
        sh, th = F.col("_sh"), F.col("_th")
        status = (
            F.when(th.isNull(), "MISSING_IN_TARGET")
            .when(sh.isNull(), "MISSING_IN_SOURCE")
            .when(sh == th, "MATCH")
            .otherwise("MISMATCH")
        )
        return (
            side(self.source, "_sh")
            .join(side(self.target, "_th"), key, "full_outer")
            .groupBy(status.alias("status"))
            .agg(F.count("*").alias("n_keys"))
        )

    def summary(self) -> DataFrame:
        """One row per check with its violation count — the report header a
        reconciliation run prints first. Two tiers share the passes:

        - **per-key tier** (keys_missing, duplicate_keys, row_hash_diffs,
          cell_diffs): the target is aggregated once per key (row count,
          distinct canonical-hash set, and the min-hash survivor row that
          :meth:`cell_diff` keeps), then one full-outer join against the
          per-row hashed source yields every count. A NULL key never joins,
          so each side's NULL-key group stays its own row through the
          ``_ns`` null-side grouping column.
        - **global tier** (count_diff_grains, fingerprint_diffs): a roll-up
          of :meth:`fingerprints`, whose row_count metric carries the count
          check.

        Each count equals the row count of the standalone method's frame
        (``row_counts()`` and ``fingerprints()`` counted where status is not
        MATCH). The 6-row report is materialized (localCheckpoint) so the
        driver's count/collect never re-runs the checks."""
        from operator import add, or_

        key = self._key()
        cols = list(self.compare_cols)
        h = canonical_row_hash(self._hash_cols())

        # --- per-key tier: checks 2-5 from one exchange pair + join ----
        s_rows = self.source.select(
            *key, *cols, h.alias("_h"), F.lit(1).alias("_sp")
        )
        t_agg = (
            self.target.select(*key, *cols, h.alias("_h"))
            .groupBy(*key)
            .agg(
                F.count("*").alias("_tc"),
                F.collect_set("_h").alias("_th"),
                F.min_by(F.struct(*cols), F.col("_h")).alias("_tr"),
            )
        )
        j = s_rows.join(t_agg, key, "full_outer")
        s_present = F.col("_sp").isNotNull()
        t_present = F.col("_tc").isNotNull()
        rh = F.when(
            s_present & t_present,
            F.size("_th") - F.array_contains("_th", F.col("_h")).cast("int"),
        ).otherwise(F.lit(0))
        cell_arms = [
            F.when(self._differs(kind, F.col(col), F.col("_tr").getField(col)), 1)
            .otherwise(0)
            for col, kind in self.compare_cols.items()
        ]
        cells = F.when(
            s_present & t_present,
            reduce(add, cell_arms) if cell_arms else F.lit(0),
        ).otherwise(F.lit(0))
        nullside = F.when(
            reduce(or_, [F.col(k).isNull() for k in key]),
            F.coalesce(F.col("_sp"), F.lit(0)),
        )
        key_agg = j.groupBy(*key, nullside.alias("_ns")).agg(
            F.sum(F.coalesce(F.col("_sp"), F.lit(0))).alias("_scnt"),
            F.max("_tc").alias("_tcnt"),
            F.sum(rh).alias("_rh"),
            F.sum(cells).alias("_cells"),
        )
        zero = F.lit(0).cast("bigint")
        one = F.lit(1).cast("bigint")
        key_roll = key_agg.agg(
            F.coalesce(
                F.sum(
                    F.when((F.col("_scnt") > 0) & F.col("_tcnt").isNull(), one)
                    .otherwise(zero)
                    + F.when((F.col("_scnt") == 0) & F.col("_tcnt").isNotNull(), one)
                    .otherwise(zero)
                ),
                zero,
            ).alias("keys_missing"),
            F.coalesce(
                F.sum(
                    F.when(F.col("_scnt") > 1, one).otherwise(zero)
                    + F.when(F.col("_tcnt") > 1, one).otherwise(zero)
                ),
                zero,
            ).alias("duplicate_keys"),
            F.coalesce(F.sum("_rh"), zero).cast("bigint").alias("row_hash_diffs"),
            F.coalesce(F.sum("_cells"), zero).cast("bigint").alias("cell_diffs"),
        )

        # --- global tier: a roll-up of the fingerprint report ------------
        fp_diff = F.col("status") != "MATCH"
        fp_roll = self.fingerprints().agg(
            F.sum(
                F.when((F.col("metric") == "row_count") & fp_diff, one).otherwise(zero)
            ).alias("count_diff_grains"),
            F.sum(F.when(fp_diff, one).otherwise(zero)).alias("fingerprint_diffs"),
        )

        return (
            key_roll.crossJoin(fp_roll)
            .selectExpr(
                "stack(6, "
                "'count_diff_grains', count_diff_grains, "
                "'keys_missing', keys_missing, "
                "'duplicate_keys', duplicate_keys, "
                "'row_hash_diffs', row_hash_diffs, "
                "'cell_diffs', cell_diffs, "
                "'fingerprint_diffs', fingerprint_diffs"
                ") as (check, violations)"
            )
            .withColumn(
                "status",
                F.when(F.col("violations") == 0, "MATCH").otherwise("DIFF"),
            )
            .localCheckpoint()
        )


def _summary_oracle() -> str:
    """SQL twin of ReconPair.summary() on the standard faulty pair: every
    check transliterated honestly (no key-arithmetic shortcuts), so the
    composite API itself is hash-checked end-to-end."""
    hash_sql = canonical_row_hash_sql(_ORDER_HASH_COLS)
    fp_metrics = """
      SELECT CAST(COUNT(*) AS DOUBLE) AS row_count,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS m1,
             CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS m2,
             CAST(SUM(CAST(o_custkey AS DECIMAL(18,6))) AS DOUBLE) AS m3,
             CAST(MIN(o_custkey) AS DOUBLE) AS m4,
             CAST(MAX(o_custkey) AS DOUBLE) AS m5,
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS m6,
             CAST(COUNT(DISTINCT o_orderstatus) AS DOUBLE) AS m7,
             CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS m8,
             CAST(COUNT(DISTINCT o_totalprice) AS DOUBLE) AS m9,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS m10,
             CAST(MIN(o_totalprice) AS DOUBLE) AS m11,
             CAST(MAX(o_totalprice) AS DOUBLE) AS m12,
             CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS m13,
             CAST(COUNT(DISTINCT o_orderdate) AS DOUBLE) AS m14,
             CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS m15,
             CAST(COUNT(DISTINCT o_orderpriority) AS DOUBLE) AS m16
      FROM {side}
    """
    # Null-safe terms, as the plan's eqNullSafe status: NULL on one side
    # is a diff (a bare ABS() comparison is NULL there, which counts 0);
    # NULL on both sides is a match.
    diff_terms = " + ".join(
        f"(CASE WHEN (s.{m} IS NULL) <> (t.{m} IS NULL) THEN 1"
        f" WHEN ABS(s.{m} - t.{m}) >= 1e-9 THEN 1 ELSE 0 END)"
        for m in ["row_count"] + [f"m{i}" for i in range(1, 17)]
    )
    return (
        ORDERS_TGT_CTE
        + f"""
, tgt_dedup AS (
  -- deterministic survivor: smallest canonical row hash, mirroring
  -- ReconPair.cell_diff's row_number-over-hash dedup exactly
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY {hash_sql}) rn
    FROM orders_tgt
  ) WHERE rn = 1
),
counts AS (
  SELECT CASE WHEN (SELECT COUNT(*) FROM orders) = (SELECT COUNT(*) FROM orders_tgt)
              THEN 0 ELSE 1 END AS v
),
missing AS (
  SELECT (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderkey FROM orders
                                EXCEPT SELECT DISTINCT o_orderkey FROM orders_tgt))
       + (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderkey FROM orders_tgt
                                EXCEPT SELECT DISTINCT o_orderkey FROM orders)) AS v
),
dups AS (
  SELECT (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
                                GROUP BY o_orderkey HAVING COUNT(*) > 1))
       + (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders_tgt
                                GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS v
),
sh AS (SELECT o_orderkey, {hash_sql} AS h FROM orders),
th AS (SELECT DISTINCT o_orderkey, {hash_sql} AS h FROM orders_tgt),
rowhash AS (
  SELECT COUNT(*) AS v FROM sh JOIN th ON sh.o_orderkey = th.o_orderkey
  WHERE sh.h <> th.h
),
cells AS (
  SELECT
    SUM(CASE WHEN s.o_custkey IS DISTINCT FROM t.o_custkey THEN 1 ELSE 0 END)
  + SUM(CASE WHEN s.o_orderstatus IS DISTINCT FROM t.o_orderstatus THEN 1 ELSE 0 END)
  + SUM(CASE WHEN (s.o_totalprice IS NULL) <> (t.o_totalprice IS NULL)
              OR (s.o_totalprice IS DISTINCT FROM t.o_totalprice
                  AND ABS(s.o_totalprice - t.o_totalprice) > 0.5) THEN 1 ELSE 0 END)
  + SUM(CASE WHEN s.o_orderdate IS DISTINCT FROM t.o_orderdate THEN 1 ELSE 0 END)
  + SUM(CASE WHEN s.o_orderpriority IS DISTINCT FROM t.o_orderpriority THEN 1 ELSE 0 END)
    AS v
  FROM orders s JOIN tgt_dedup t ON s.o_orderkey = t.o_orderkey
),
-- the SUM over a zero-row join is NULL; COALESCE makes it 0, so an empty
-- join reports MATCH, as the plan's count does
cells0 AS (SELECT COALESCE(v, 0) AS v FROM cells),
sfp AS ({fp_metrics.format(side='orders')}),
tfp AS ({fp_metrics.format(side='orders_tgt')}),
fp AS (SELECT {diff_terms} AS v FROM sfp s CROSS JOIN tfp t)
SELECT "check", CAST(violations AS BIGINT) AS violations,
       CASE WHEN violations = 0 THEN 'MATCH' ELSE 'DIFF' END AS status
FROM (
  SELECT 'count_diff_grains' AS "check", v AS violations FROM counts
  UNION ALL SELECT 'keys_missing', v FROM missing
  UNION ALL SELECT 'duplicate_keys', v FROM dups
  UNION ALL SELECT 'row_hash_diffs', v FROM rowhash
  UNION ALL SELECT 'cell_diffs', v FROM cells0
  UNION ALL SELECT 'fingerprint_diffs', v FROM fp
)
"""
    )


def orders_pair(orders: DataFrame, target: DataFrame | None = None) -> ReconPair:
    """The standard faulty orders pair every fixed ``recon_*`` check runs
    on: ``orders`` against ``target`` (default: :func:`orders_target`'s
    faulty copy), keyed on o_orderkey, comparing the other
    ``_ORDER_HASH_COLS`` columns with tolerance 0.5. Its row hash is
    therefore the oracles' ``_ORDER_HASH_COLS`` hash."""
    return ReconPair(
        source=orders,
        target=orders_target(orders) if target is None else target,
        keys=["o_orderkey"],
        compare_cols=dict(_ORDER_HASH_COLS[1:]),
        tolerance=0.5,
    )


@query("recon_api_summary", oracle=_summary_oracle())
def recon_api_summary(spark, sf_dir: str) -> DataFrame:
    """The one-call reconciliation report on the standard faulty pair.
    The oracle transliterates all six checks, so even the composite is
    hash-verified; exact per-fault-class counts are additionally asserted
    by tests/test_recon_api.py."""
    return orders_pair(load(spark, sf_dir, "orders")).summary()


@query("recon_crossformat", oracle=_summary_oracle())
def recon_crossformat(spark, sf_dir: str) -> DataFrame:
    """Cross-format reconciliation: the standard faulty target is written
    to ORC and read back before reconciling against the parquet source —
    the realistic deployment shape (Hive-era targets rarely share the
    source's format). The report must be IDENTICAL to recon_api_summary's
    (same oracle): a lossless columnar round trip may not create or mask
    a single violation. Any format-conversion drift (timestamp precision,
    float text, NULL encoding) would surface as a changed violation
    count and fail the hash-check.

    The ORC target is an ``artifacts.ensure_artifact`` build, written once
    per fingerprint and re-read on every run. Via ``code=[orders_target]``
    any edit to the fault-injection transform rebuilds it, so the cached
    target can never be a stale-code build."""
    from ..artifacts import ensure_artifact

    orders = load(spark, sf_dir, "orders")

    def build(tmp: str) -> None:
        orders_target(orders, faulty=True).write.mode("overwrite").orc(tmp)

    orc_path, _ = ensure_artifact(
        spark, sf_dir, "orders_tgt_orc", ["orders.parquet"], build,
        code=[orders_target],
    )
    return orders_pair(orders, spark.read.orc(orc_path)).summary()
