package graft.perfbench

/** Builds the work-bound data directory once per checkout:
  * `ScaleProbe.generate` over the seeded base tables.
  */
object Prepare {
  def run(h: Harness): Unit = {
    val spark = graft.Sessions.local("perfbench-prepare", h.cores.toString)
    h.spark = spark
    graft.ScaleProbe.generate(spark, h.arg("mult").toInt, h.arg("base"), h.arg("data"))
    spark.stop()
  }
}
