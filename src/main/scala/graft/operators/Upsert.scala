package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.checks.UpsertError

/** Keyed upsert semantics — the reference's parquet-path flagship operator
  * (SURVEY.md §2 O15; reference export.py:362-423).
  *
  * Reference semantics reproduced exactly:
  *  - both frames must have identical column sets (export.py:383-390);
  *  - **cell-level mode** (`combine_first`, export.py:398-404): row union
  *    on the keys; for matched rows the new value wins unless it is
  *    missing, in which case the old value survives;
  *  - **row-level mode** (export.py:392-397): the new row wins entirely;
  *    old rows whose keys are absent from the new frame survive; result
  *    ordered by key;
  *  - **dispatch** (export.py:392-394): if the new frame contains any
  *    missing value in a non-key column → row-level mode, else cell-level
  *    (in pandas `combine_first` would resurrect old cells under new-NaN,
  *    which the reference deems wrong — golden test
  *    reference tests/test_parquet.py:120-157);
  *  - pandas NaN ≡ missing: for float columns both `null` and `NaN` count
  *    as missing (SURVEY.md §7.4 trap 2).
  *
  * Scale notes: both modes are one shuffle on the key columns —
  * a full-outer sort-merge join (cell mode) or a left-anti join + union
  * (row mode). Neither side is assumed small, so no broadcast: at 100 TB
  * target and delta are both large, and AQE converts to a broadcast join
  * at runtime when the delta turns out small. The null-probe in
  * [[upsert]] is a short-circuiting `take(1)` on a pushed-down filter,
  * not a full scan. A caller that already knows the answer (the parquet
  * sink reads it off its one input probe,
  * [[graft.checks.Validations.probe]]) dispatches through [[dispatch]]
  * and skips that probe.
  */
object Upsert {

  private def requireSameColumns(newDf: DataFrame, oldDf: DataFrame): Unit = {
    val n = newDf.columns.toSet
    val o = oldDf.columns.toSet
    val diff = (n diff o) ++ (o diff n)
    if (diff.nonEmpty)
      throw UpsertError(
        s"Upsert requires identical column sets; difference: ${diff.mkString(", ")}")
  }

  /** Missing-ness predicate: null, plus NaN for float/double columns
    * (pandas NaN ≡ missing, SURVEY.md §7.4 trap 2). The ONE definition
    * — the dispatch probe and combineFirst's cell rule both call it, so
    * the semantics can never diverge between the two paths. Takes the
    * Column separately from the schema owner because combineFirst
    * probes an ALIASED column (`__n.c`) against the unaliased schema. */
  private def missingCol(dt: org.apache.spark.sql.types.DataType,
      c: Column): Column =
    dt match {
      case DoubleType | FloatType => c.isNull || isnan(c)
      case _ => c.isNull
    }
  private def missing(df: DataFrame, c: String): Column =
    missingCol(df.schema(c).dataType, graft.checks.Validations.qcol(c))

  /** "This row of `df` has a missing non-key cell", by [[missingCol]]'s
    * rule; None when every column is a key. The dispatch predicate of
    * [[upsert]], shared with the sinks' input probe. */
  private[graft] def missingRow(df: DataFrame, keys: Seq[String]): Option[Column] =
    df.columns.filterNot(keys.contains).map(missing(df, _)).reduceOption(_ || _)

  /** Column `c` of alias `a`, with `c` backtick-quoted: a dotted or
    * otherwise-special column name must parse as one identifier under
    * the alias, not as nested-field access
    * ([[graft.checks.Validations.qcol]]'s rule, aliased form). */
  private def ac(a: String, c: String): Column =
    col(a + ".`" + c.replace("`", "``") + "`")

  /** Cell-level upsert (pandas `combine_first`): full-outer join on keys,
    * new cell wins unless missing. */
  def combineFirst(newDf: DataFrame, oldDf: DataFrame, keys: Seq[String]): DataFrame = {
    requireSameColumns(newDf, oldDf)
    val n = newDf.alias("__n")
    val o = oldDf.alias("__o")
    val cond = keys.map(k => ac("__n", k) === ac("__o", k)).reduce(_ && _)
    val nonKeys = newDf.columns.filterNot(keys.contains).toSeq
    val projected =
      keys.map(k => coalesce(ac("__n", k), ac("__o", k)).as(k)) ++
      nonKeys.map { c =>
        val nc = ac("__n", c)
        when(missingCol(newDf.schema(c).dataType, nc),
          ac("__o", c)).otherwise(nc).as(c)
      }
    n.join(o, cond, "full_outer").select(projected: _*)
  }

  /** Row-level upsert: new row wins entirely; old-only rows survive;
    * ordered by key (reference export.py:392-397 sorts by the keys). */
  def rowReplace(newDf: DataFrame, oldDf: DataFrame, keys: Seq[String]): DataFrame = {
    requireSameColumns(newDf, oldDf)
    val survivors = oldDf.join(newDf, keys, "left_anti")
    newDf.unionByName(survivors)
      .orderBy(keys.map(graft.checks.Validations.qcol): _*)
  }

  /** Reference-faithful dispatch (export.py:392-404): any missing value
    * in a non-key column of the NEW frame → row-level, else cell-level.
    * (Column-set equality is validated by the branch this dispatches
    * to — once, not twice.) */
  def upsert(newDf: DataFrame, oldDf: DataFrame, keys: Seq[String]): DataFrame =
    dispatch(newDf, oldDf, keys,
      missingRow(newDf, keys).exists(m => !newDf.filter(m).isEmpty))

  /** [[upsert]] with its dispatch answer given: `anyMissing` must be
    * whether some row of `newDf` satisfies [[missingRow]]. */
  private[graft] def dispatch(newDf: DataFrame, oldDf: DataFrame,
      keys: Seq[String], anyMissing: Boolean): DataFrame =
    if (anyMissing) rowReplace(newDf, oldDf, keys)
    else combineFirst(newDf, oldDf, keys)

  /** Append semantics (reference export.py:355-356, O13/O17): plain
    * multiset union — the parquet path lands a new timestamped file, the
    * SQL path inserts into the existing table; either way the logical
    * result is old ⊎ new with no dedup. */
  def append(newDf: DataFrame, oldDf: DataFrame): DataFrame = {
    requireSameColumns(newDf, oldDf)
    oldDf.unionByName(newDf)
  }
}
