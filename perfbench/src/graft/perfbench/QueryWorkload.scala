package graft.perfbench

import graft.SparkEntry

/** sf01_mix and x10_heavy: one client runs the query list Q in a seeded
  * order, each query constructed and then executed into the noop sink.
  * Before timing, a warm-up pass over Q pays codegen (set-up) and writes
  * every result for the DuckDB oracle check. At least two timed passes
  * follow.
  */
object QueryWorkload {
  /** Q: every `stride`-th declared query in numeric order starting at
    * q1, plus the queries named by their `qN` prefix.
    */
  def queryList(stride: Int, named: Set[String]): Seq[String] =
    SparkEntry.queries.keys.toSeq
      .sortBy(_.drop(1).takeWhile(_.isDigit).toInt)
      .zipWithIndex.collect {
        case (n, i) if i % stride == 0 || named(n.takeWhile(_ != '_')) => n
      }

  def run(h: Harness): String = {
    val dir = h.arg("data")
    val q = queryList(h.arg("stride").toInt,
      h.arg("named").split(",").filter(_.nonEmpty).toSet)
    h.diag("queries") = Json.str(q.map(_.takeWhile(_ != '_')).mkString(" "))
    val fns = SparkEntry.queries
    val spark = h.startSession(() =>
      graft.Sessions.localSized(s"perfbench-${h.workload}", h.cores.toString, dir))
    // set-up: one pass over Q pays codegen; it also writes every result
    // for the oracle check
    val out = s"${h.work}/results"
    h.warmup(q.foreach { n =>
      h.check(s"write $n") {
        h.untimed(fns(n)(spark, dir).write.mode("overwrite").parquet(s"$out/$n"))
        true
      }
      h.checks += ((n, s"$out/$n"))
    })
    val sql = SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.obj(q.filter(sql.contains).map(n => n -> Json.str(sql(n)))))
    h.loop(2) { r =>
      h.shuffled(q, r).foreach { n =>
        h.op("query", n, r) {
          val df = h.phase("construct")(fns(n)(spark, dir))
          h.phase("execute")(df.write.format("noop").mode("overwrite").save())
        }
      }
    }
    "query"
  }
}
