package graft

/** The engine's crash seams and some of its query constants are
  * package-private; the benchmark reaches the ones it needs through this
  * shim. */
object PerfbenchSeams {
  /** The retrieval index's extend with its postings appended and its
    * `_meta` commit not yet written: the state a crash in between leaves. */
  def retrievalCrashBeforeCommit(docs: org.apache.spark.sql.DataFrame, table: String,
      batchId: Long): Unit =
    graft.operators.RetrievalIndex.applyExtend(docs, table, batchId)

  /** The term queries of `q159_index_topk`, whose oracle SQL is the
    * one-shot answer a served top-k must equal. */
  def rankQueries: Seq[(Int, Seq[String])] = graft.queries.CurationOps.rankQueries

  /** Drop the input schemas `graft.core.Tables` keeps for the life of the
    * JVM, so that the next registration reads every input's footer again,
    * as a fresh process does. The cache is private to `Tables`. */
  def forgetTableSchemas(): Unit = {
    val f = graft.core.Tables.getClass.getDeclaredFields
      .find(_.getName.endsWith("schemaCache"))
      .getOrElse(sys.error("graft.core.Tables has no schema cache"))
    f.setAccessible(true)
    f.get(graft.core.Tables).asInstanceOf[java.util.Map[_, _]].clear()
  }
}
