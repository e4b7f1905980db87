package graft.checks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Load method ADT + precondition checks.
  *
  * Reference behavior (SURVEY.md §2 O2/O3):
  *  - method must be one of create/append/upsert
  *    (reference settings.py:27-30);
  *  - upsert requires a non-empty id_field (settings.py:31-34);
  *  - duplicate column names are rejected (utils.py:92-97,
  *    DoubleColumnNamesError);
  *  - under upsert the key columns must be row-unique (utils.py:87-89) —
  *    here a distributed groupBy-count instead of a pandas duplicated()
  *    scan, so the check works at 100 TB (one shuffle on the keys, which
  *    the subsequent MERGE/join needed anyway).
  *
  * A load request asks its input several questions: is it empty (O3),
  * are its keys unique (O2), does a non-key cell miss (the upsert
  * dispatch, O15), how long are its strings and how wide its integers
  * (the SQL types, O6/O7). [[probe]] answers all of them in one pass
  * over the frame, so each sink pays for one probe instead of one
  * Spark job (or two) per question.
  */
object Validations {

  /** `col()` with the name backtick-quoted (backticks doubled): a
    * plain `col("a.b")` parses the dot as nested-field access, so a
    * literal column named "a.b" either throws or — worse, when a
    * struct column "a" with field "b" coexists — silently resolves to
    * the WRONG column. Every helper here and in the sinks that turns
    * a user-supplied column NAME into a Column goes through this. */
  def qcol(name: String): org.apache.spark.sql.Column =
    col("`" + name.replace("`", "``") + "`")

  sealed abstract class Method(val name: String)
  object Method {
    case object Create extends Method("create")
    case object Append extends Method("append")
    case object Upsert extends Method("upsert")
    def parse(s: String): Method = s match {
      case "create" => Create
      case "append" => Append
      case "upsert" => Upsert
      case other =>
        throw new IllegalArgumentException(
          s"method should be either create, append or upsert, got: $other")
    }
  }

  def requireIdField(method: Method, idField: Seq[String]): Unit =
    if (method == Method.Upsert && idField.isEmpty)
      throw new IllegalArgumentException(
        "Id field is required when method is upsert")

  def requireUniqueColumnNames(df: DataFrame): Unit = {
    val dupes = df.columns.groupBy(identity).collect {
      case (name, occ) if occ.length > 1 => name
    }
    if (dupes.nonEmpty)
      throw DoubleColumnNamesError(
        s"Columns have duplicate names: ${dupes.mkString(", ")}")
  }

  /** Distributed key-uniqueness assert (reference utils.py:87-89). */
  def requireUniqueKeys(df: DataFrame, keys: Seq[String]): Unit =
    firstDuplicate(duplicateGroup(df, keys)).foreach(d =>
      throw duplicateKeys(keys, d))

  /** At most one key group of `df` holding more than one row: its key
    * values, then its row count. */
  private def duplicateGroup(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(qcol): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .limit(1)

  /** Runs [[duplicateGroup]]'s query `q`: the duplicated key values,
    * None when the keys are unique. */
  private def firstDuplicate(q: DataFrame): Option[Seq[Any]] =
    q.collect().headOption.map(_.toSeq.init)

  private def duplicateKeys(keys: Seq[String], dup: Seq[Any]): UpsertError =
    UpsertError(
      s"Key columns ${keys.mkString(", ")} contain duplicate rows " +
        s"(e.g. ${dup.mkString("/")}) — upsert requires unique keys")

  /** Empty-input short-circuit (reference export.py:96-99): a cheap
    * take(1) probe, not a count over the whole input. */
  def isEmpty(df: DataFrame): Boolean = df.isEmpty

  /** What [[probe]] learned about a load request's frame.
    *
    * @param rows the row count
    * @param duplicate the key values of one key group holding more than
    *   one row; None when the keys are unique or no keys were given
    * @param anyMissing whether some row has a missing non-key cell, by
    *   the upsert dispatch's rule ([[graft.operators.Upsert.missingRow]]:
    *   null, or NaN in a float column)
    * @param extra the caller's extra aggregates by their aliases (null
    *   when the frame is empty and the aggregate is) */
  final case class Probe(rows: Long, duplicate: Option[Seq[Any]],
      anyMissing: Boolean, extra: Map[String, Any]) {
    def isEmpty: Boolean = rows == 0
    /** [[Validations.requireUniqueKeys]]'s error, same class and text. */
    def requireUniqueKeys(keys: Seq[String]): Unit =
      duplicate.foreach(d => throw duplicateKeys(keys, d))
  }

  private val probeIds = new java.util.concurrent.atomic.AtomicLong

  /** One pass over `df` answering [[Probe]]'s questions. Without keys it
    * is one multi-aggregate. With keys it is the key-grouping query of
    * [[requireUniqueKeys]], which observes the count, the missing flag
    * and `extra` on its way in (`Dataset.observe`). The observed values
    * are read off that query's own execution after its action returned,
    * so a failed action throws here and nothing waits for metrics that
    * never come. An input the optimizer knows to be empty (an empty
    * local frame, a `limit(0)`, a false filter) loses the observing
    * node with the rest of its plan and reports no metrics: then the
    * aggregate runs as a query of its own.
    *
    * An input whose plan statistics estimate at most
    * [[singleTaskProbeBytes]] (a keyed delta, a small batch) is probed
    * in one task: a single partition already satisfies the grouping's
    * and the aggregate's distribution, so the pass runs as one Spark
    * job with no shuffle. The estimate only selects how the pass runs,
    * never what it answers.
    *
    * @param extra aliased aggregate columns over `df` (the SQL type
    *   refinement's [[graft.types.SqlTypeMapper.refineAggs]]); their
    *   values come back in [[Probe.extra]] */
  def probe(df: DataFrame, keys: Seq[String], extra: Seq[Column] = Nil): Probe = {
    val metrics = Seq(count(lit(1)).as(rowsAlias)) ++
      graft.operators.Upsert.missingRow(df, keys).map(m => max(m).as(missingAlias)) ++
      extra
    val in = if (fitsOneTask(df)) df.coalesce(1) else df
    def aggregate(): Row = in.agg(metrics.head, metrics.tail: _*).head()
    val (duplicate, row) =
      if (keys.isEmpty) (None, aggregate())
      else {
        val name = s"__graft_probe_${probeIds.incrementAndGet()}"
        val q = duplicateGroup(in.observe(name, metrics.head, metrics.tail: _*),
          keys)
        val dup = firstDuplicate(q)
        (dup, q.queryExecution.observedMetrics.getOrElse(name, aggregate()))
      }
    val values = row.getValuesMap[Any](row.schema.fieldNames.toSeq)
    Probe(values(rowsAlias).asInstanceOf[Long], duplicate,
      values.get(missingAlias).contains(true),
      values -- Seq(rowsAlias, missingAlias))
  }

  /** Largest estimated input [[probe]] runs in one task, and the
    * largest batch [[graft.operators.IndexStore.appendBatch]] holds on
    * the driver (which also caps the rows it holds). On 4 local cores a
    * one-task key probe beat the shuffled one up to about 20k narrow
    * rows (0.9 MB estimated) and tied at 60k (2.7 MB). */
  private[graft] val singleTaskProbeBytes = BigInt(1) << 20

  /** Does `df`'s optimized plan estimate at most [[singleTaskProbeBytes]]?
    * Plan statistics only, no Spark job. */
  private[graft] def fitsOneTask(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= singleTaskProbeBytes

  private val rowsAlias = "__graft_rows"
  private val missingAlias = "__graft_missing"
}
