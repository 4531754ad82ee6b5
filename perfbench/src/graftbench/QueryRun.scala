package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The query workload q-cold, driven through `SparkEntry.queries` only.
  *
  * It times one pass: the first of a fresh JVM whose warehouse directory
  * is new, so no memo entry and no `graft_shared_*` table or file exists
  * before it. It has no warm-up, as a first session has none.
  *
  * Each execution is timed in three phases: the builder call, Catalyst
  * planning (`queryExecution.executedPlan`) and the `noop` write. The
  * outputs run.py checks against the DuckDB oracle are written as
  * parquet by an untimed second write of every execution's DataFrame (a
  * gate's DataFrame reads its memo, so this is cheap). */
object QueryRun {
  /** Builder-bound gates that build memos and shared artifacts, in an
    * order where later gates reuse what earlier ones build. */
  val Cold: Seq[String] = Seq("t40_text_index_gate", "q83_recursive_cte", "g02_bfs_levels")
}

final class QueryRun(a: Main.Args, spark: SparkSession, tracer: Tracer, runSpan: Long)
    extends Main.Workload {
  import QueryRun._

  private val warehouse = new File(a.work, "warehouse")

  private def sharedTables(): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_shared_")).toSeq

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(treeBytes).sum
    else f.length()

  /** Runs `body` with the span id that Spark jobs started inside it carry. */
  private def phase[A](id: Long, parent: Long, name: String, layer: String)(body: => A): A = {
    spark.sparkContext.setLocalProperty(SparkTrace.SpanKey, id.toString)
    try tracer.span(id, parent, name, layer)(body)
    finally spark.sparkContext.setLocalProperty(SparkTrace.SpanKey, null)
  }

  private def execute(name: String, passSpan: Long, check: File): Map[String, Any] = {
    val qSpan = tracer.newId()
    val t0 = System.nanoTime()
    var t1, t2, t3 = t0
    val error: Option[String] =
      try {
        val df: DataFrame = phase(tracer.newId(), qSpan, "build", "operators") {
          SparkEntry.queries(name)(spark, a.data)
        }
        t1 = System.nanoTime()
        phase(tracer.newId(), qSpan, "plan", "catalyst") { df.queryExecution.executedPlan }
        t2 = System.nanoTime()
        phase(tracer.newId(), qSpan, "action", "exec") {
          df.write.format("noop").mode("overwrite").save()
        }
        t3 = System.nanoTime()
        tracer.add(Span(qSpan, passSpan, name, "query", Clock.us(t0), Clock.us(t3)))
        phase(tracer.newId(), passSpan, "check", "check") {
          df.coalesce(1).write.mode("overwrite").parquet(check.getPath)
        }
        None
      } catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] $name failed: $e")
          if (t3 == t0) t3 = System.nanoTime()
          Some(e.toString)
      } finally spark.catalog.clearCache()
    Map("name" -> name, "build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
      "action_s" -> (t3 - t2) / 1e9, "total_s" -> (t3 - t0) / 1e9, "error" -> error)
  }

  def run(): Map[String, Any] = {
    val bytes0 = treeBytes(warehouse)
    val passSpan = tracer.newId()
    val t0 = System.nanoTime()
    val out = new File(a.work, "out/p1")
    val execs = Cold.map(n => execute(n, passSpan, new File(out, n)))
    val t1 = System.nanoTime()
    val shared = sharedTables()
    tracer.add(Span(passSpan, runSpan, "pass 1", "pass", Clock.us(t0), Clock.us(t1)))
    val pass = Map("index" -> 1, "wall_s" -> (t1 - t0) / 1e9, "queries" -> execs,
      "artifact_tables" -> shared.size, "artifact_bytes" -> (treeBytes(warehouse) - bytes0))
    Map("queries" -> Cold, "warmup_s" -> 0.0, "passes" -> Seq(pass),
      "oracle_sql" -> Cold.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
  }
}
