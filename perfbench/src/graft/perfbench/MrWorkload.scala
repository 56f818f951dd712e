package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.core.{MRApp, MapReduce}

/** mr_text: the paper's own dataflow. One client alternates `wc` and
  * `indexer` jobs (`MapReduce.run`, nReduce = 10) over a seeded corpus
  * of whole-file text records. Outputs are checked against
  * `MapReduce.runSequential` on sorted lines.
  */
object MrWorkload {
  def lines(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(_.getName.startsWith("mr-out-"))
      .flatMap(f => new String(Files.readAllBytes(f.toPath), UTF_8).split("\n"))
      .filter(_.nonEmpty).sorted

  def bytes(dir: String): Long =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("mr-out-")).map(_.length).sum

  def run(h: Harness): String = {
    val files = new File(h.arg("corpus")).listFiles().map(_.getPath).sorted.toSeq
    val inputBytes = files.map(f => new File(f).length).sum
    val apps = Seq("wc", "indexer").map(MRApp.byName)
    val root = s"${h.work}/mr"
    val spark = h.startSession(() =>
      graft.Sessions.local("perfbench-mr_text", h.cores.toString))
    h.warmup(apps.foreach(a => MapReduce.run(spark, files, a, 10, s"$root/warm-${a.name}")))

    // a pass is ~1.5 s of CPU-bound work, the part of the suite most exposed
    // to host CPU steal, so a run averages over at least 8 of them
    h.loop(8) { r =>
      h.shuffled(apps, r).foreach { a =>
        h.op("mr", a.name, r)(h.phase("run")(
          MapReduce.run(spark, files, a, 10, s"$root/${a.name}")))
      }
    }
    // untimed: the warm-up and the last timed outputs against the sequential run
    apps.foreach(a => MapReduce.runSequential(files, a, s"$root/seq-${a.name}"))
    apps.foreach { a =>
      val want = lines(s"$root/seq-${a.name}")
      h.check(s"${a.name} warm-up output")(lines(s"$root/warm-${a.name}") == want)
      h.check(s"${a.name} output")(lines(s"$root/${a.name}") == want)
    }
    if (h.traced) {
      apps.foreach(a => h.layer(s"core.${a.name}_s") =
        Stats.median(h.ops.filter(_.name == a.name).map(_.wall).toSeq))
      h.layer("core.output_bytes_per_input_byte") =
        apps.map(a => bytes(s"$root/${a.name}")).sum.toDouble / (apps.size * inputBytes)
    }
    h.diag("corpus_files") = files.size.toString
    h.diag("corpus_bytes") = inputBytes.toString
    "mr"
  }
}
