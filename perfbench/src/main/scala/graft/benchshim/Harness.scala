package graft.benchshim

import org.apache.spark.sql.DataFrame

/** The two harness calls the benchmark shares with `graft.Bench` and
  * `graft.Verify`; `graft.ops.T` is package-private, so they are exposed
  * here, inside the `graft` package, and nothing else is. */
object Harness {
  /** Unpersist every cache and checkpoint a query registered. */
  def releaseCaches(): Unit = graft.ops.T.releaseCaches(blocking = true)

  /** Eagerly checkpointed copy of `df`, released with the caches. */
  def checkpointed(df: DataFrame): DataFrame = graft.ops.T.checkpointed(df, eager = true)
}
