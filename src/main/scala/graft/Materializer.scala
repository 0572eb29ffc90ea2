package graft

import org.apache.spark.sql.DataFrame

/** Reuse-point materialization seam.
  *
  * Several operators compute an intermediate frame once and consume
  * it from two or more downstream branches (a language model's count
  * tables, a classifier's term frequencies, a shingle table read by
  * both sides of a verify join). Every such reuse point in the library
  * calls `Materializer(df, "site_name", eager)`. The default strategy
  * is `df.localCheckpoint(eager)`: a lazy site's first consumer
  * populates the blocks and later consumers read them, so no extra
  * pass runs per invocation (the r10→r11 bigram fix, −87%); an eager
  * site pays one job up front. The documented residual of a lazy site
  * is a benign double-compute race — two branches of ONE job can each
  * populate it — that a long-lived deployment closes with one line
  * of configuration: swap in [[Materializer.PersistedTable]]
  * (write-read a parquet table under a job-scoped directory, so the
  * reuse point is computed exactly once per run, survives executor
  * loss, and is shareable across jobs). Strategies receive the site name as a stable hint —
  * PersistedTable uses it as the table directory name. Loop state
  * that only cuts lineage is not a reuse point (OPERATING.md).
  */
object Materializer {

  trait Strategy extends Serializable {
    /** Return a frame semantically identical to `df` that downstream
      * consumers can evaluate repeatedly without recomputing its
      * lineage. `site` is a stable per-call-site name. */
    def materialize(df: DataFrame, site: String): DataFrame

    /** [[materialize]]; `eager` then forces it with one job on its RDD
      * (a `Dataset.count` would add a stage). */
    def materialize(df: DataFrame, site: String, eager: Boolean): DataFrame = {
      val m = materialize(df, site)
      if (eager) m.queryExecution.toRdd.count()
      m
    }
  }

  /** Default: local checkpoint — blocks live on local executors
    * (single-JVM and short-lived-job friendly). */
  object LocalCheckpoint extends Strategy {
    override def materialize(df: DataFrame, site: String): DataFrame =
      df.localCheckpoint(false)
    override def materialize(df: DataFrame, site: String, eager: Boolean) =
      df.localCheckpoint(eager)
  }

  /** Cluster strategy: write the reuse point as a parquet table under
    * `dir/<site>` and read it back — computed exactly once, fault
    * tolerant, inspectable, shareable. Always eager: the write is the
    * computation. `overwrite` semantics make the directory job-scoped:
    * callers running concurrent jobs point each at its own `dir`.
    *
    * Two invocations of the SAME reuse site in one process (e.g.
    * `unigramNll(docsA)` unioned with `unigramNll(docsB)` — both hit
    * the `langmodel_unigram_tf` site) must not overwrite each other's
    * table: the read-back is a LAZY parquet scan that lists files at
    * action time, so an overwrite would silently serve the second
    * invocation's rows to the first consumer. Each invocation
    * therefore gets its own table — `<site>`, `<site>_2`, `<site>_3`
    * … — via a per-site counter. */
  final case class PersistedTable(dir: String) extends Strategy {
    @transient private lazy val invocations =
      new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    override def materialize(df: DataFrame, site: String): DataFrame = {
      val n: Int = invocations.merge(site, Int.box(1),
        (a: Integer, b: Integer) => Int.box(a + b))
      val path = if (n == 1) s"$dir/$site" else s"$dir/${site}_$n"
      df.write.mode("overwrite").parquet(path)
      df.sparkSession.read.parquet(path)
    }
    override def materialize(df: DataFrame, site: String, eager: Boolean) =
      materialize(df, site)
  }

  @volatile private var current: Strategy = LocalCheckpoint

  /** Install a strategy process-wide (a deployment does this once at
    * startup). Tests restore with [[reset]] in a finally. */
  def set(s: Strategy): Unit = { current = s }

  def reset(): Unit = { current = LocalCheckpoint }

  /** Materialize a reuse point under the installed strategy. */
  def apply(df: DataFrame, site: String, eager: Boolean = false): DataFrame =
    current.materialize(df, site, eager)

  /** Chain syntax for call sites:
    * `df.groupBy(...).agg(...).materialized("site")`. */
  implicit final class MaterializeOps(private val df: DataFrame)
      extends AnyVal {
    def materialized(site: String, eager: Boolean = false): DataFrame =
      Materializer(df, site, eager)
  }
}
