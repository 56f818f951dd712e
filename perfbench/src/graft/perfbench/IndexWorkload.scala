package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Retrieval
import graft.sinks.{TextIndex, VectorIndex}

/** index_rw: the write path beside the read path. Builds the text and
  * vector sinks, which the search reads, over the documents and
  * embeddings minus a seeded held-back tail, then appends the tail batch
  * by batch to both sinks, issuing a seeded `Retrieval.hybridSearch`
  * battery after each batch, and finally compacts both sinks. Every
  * search must return a ranking, and the last battery must rank
  * identically on the compacted indexes.
  */
object IndexWorkload {
  /** A sink behind one call surface: (build, append, compact). */
  final case class Sink(name: String, build: (DataFrame, DataFrame, String) => Unit,
      append: (DataFrame, DataFrame, String) => Unit,
      compact: (SparkSession, String, String) => Unit)

  val sinks: Seq[Sink] = Seq(
    Sink("text", (d, _, o) => TextIndex.build(d.select("doc_id", "text"), o),
      (d, _, o) => TextIndex.append(d.select("doc_id", "text"), o), TextIndex.compact),
    Sink("vector", (_, e, o) => VectorIndex.build(e, o, k = 16),
      (_, e, o) => VectorIndex.append(e.sparkSession, o, e),
      (s, a, b) => VectorIndex.compact(s, a, b)))

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(dirBytes).sum
    else if (f.getName.endsWith(".crc")) 0L else f.length

  def dataFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(dataFiles).sum
    else if (f.getName.startsWith("part-")) 1 else 0

  def run(h: Harness): String = {
    val base = h.arg("base")
    val nDocs = h.arg("docs").toInt
    val batch = h.arg("batch").toInt
    val searches = h.arg("searches").toInt
    val rounds = math.max(2, math.ceil(h.seconds / h.arg("round_seconds").toDouble).toInt)
    val spark = h.startSession(() =>
      graft.Sessions.local(s"perfbench-${h.workload}", h.cores.toString))
    val root = s"${h.work}/index"

    // inputs: ids [0, nDocs) with a seeded held-back tail of rounds × batch;
    // ids below 16 stay indexed, they seed the vector quantizer
    val ids = h.shuffled(16L until nDocs.toLong, 1)
    val tail = ids.take(rounds * batch)
    val main = (0L until 16L) ++ ids.drop(rounds * batch)
    // the inputs are collected once and handed to the program as local
    // relations, so no operation pays for deriving them
    val t = graft.Tables(spark, base)
    val (docRows, embRows) = h.inputs((
      t.documents.where(col("doc_id") < nDocs)
        .select("doc_id", "source", "text").collect().map(r => r.getLong(0) -> r).toMap,
      t.embeddings.where(col("vec_id") < nDocs)
        .select("vec_id", "embedding").collect().map(r => r.getLong(0) -> r).toMap))
    val docSchema = t.documents.select("doc_id", "source", "text").schema
    val embSchema = t.embeddings.select("vec_id", "embedding").schema
    def local(rows: Map[Long, org.apache.spark.sql.Row], schema: org.apache.spark.sql.types.StructType,
        s: Seq[Long]): DataFrame = {
      val l = new java.util.ArrayList[org.apache.spark.sql.Row]()
      s.filter(rows.contains).foreach(i => l.add(rows(i)))
      spark.createDataFrame(l, schema)
    }
    def docsOf(s: Seq[Long]) = local(docRows, docSchema, s)
    def embOf(s: Seq[Long]) = local(embRows, embSchema, s)
    val mainDocs = docsOf(main)
    val mainEmb = embOf(main)
    val batches = tail.grouped(batch).map(b => (docsOf(b), embOf(b))).toSeq
    // battery: for a seeded indexed doc, its first 8 distinct words and its embedding
    val words = "[a-z]+".r
    val battery = (0 until rounds).map(r =>
      h.shuffled(main.filter(embRows.contains), 100 + r).take(searches).map { id =>
        val terms = words.findAllIn(docRows(id).getString(2).toLowerCase).toSeq.distinct.take(8)
        (id, terms, embOf(Seq(id)))
      })

    def search(textDir: String, vecDir: String, q: (Long, Seq[String], DataFrame)): Seq[String] = {
      val df = h.phase("construct")(Retrieval.hybridSearch(spark, textDir, vecDir, q._2, q._3, 4))
      val rows = h.phase("execute")(df.collect()).map(_.toString).toSeq
      h.tracer.note("result_rows", rows.size)
      rows
    }

    // set-up: the whole cycle once on a small slice, so codegen and JIT are warm
    h.warmup {
      val w = s"$root/warm"
      val wd = docsOf(main.take(200))
      val we = embOf(main.take(200))  // includes the quantizer seeds
      sinks.foreach(s => h.untimed(s.build(wd, we, s"$w/${s.name}")))
      sinks.foreach(s => h.untimed(s.append(batches.head._1, batches.head._2, s"$w/${s.name}")))
      h.untimed(search(s"$w/text", s"$w/vector", battery.head.head))
      sinks.foreach(s => h.untimed(s.compact(spark, s"$w/${s.name}", s"$w/${s.name}-c")))
    }

    val dir = (s: Sink) => s"$root/${s.name}"
    // one pass = the whole ingest cycle: build, every batch with its
    // battery, compact; a traced run traces every other batch
    val c0 = System.nanoTime()
    h.tracer.on = h.traced
    sinks.foreach(s => h.op("build", s.name, -1)(h.phase("build")(s.build(mainDocs, mainEmb, dir(s)))))
    var last = Seq.empty[Seq[String]]
    for (r <- 0 until rounds) {
      h.tracer.on = h.traced && r % 2 == 0
      val (bd, be) = batches(r)
      sinks.foreach(s => h.op("append", s.name, r)(h.phase("append")(s.append(bd, be, dir(s)))))
      last = battery(r).map { q =>
        val got = h.op("search", q._1.toString, r)(search(dir(sinks(0)), dir(sinks(1)), q))
        h.check(s"search ${q._1} ranks")(got.exists(_.nonEmpty))
        got.getOrElse(Nil)
      }
    }
    h.tracer.on = h.traced
    if (h.traced) sinks.foreach(s => h.layer(s"sinks.${s.name}.files") = dataFiles(new File(dir(s))))
    sinks.foreach(s => h.op("compact", s.name, -1)(h.phase("compact")(
      s.compact(spark, dir(s), s"${dir(s)}-c"))))
    h.passWalls += (System.nanoTime() - c0) / 1e9
    h.tracer.on = false
    battery(rounds - 1).zip(last).foreach { case (q, before) =>
      h.check(s"search ${q._1} after compact")(
        h.untimed(search(s"${dir(sinks(0))}-c", s"${dir(sinks(1))}-c", q)) == before)
    }

    val walls = (k: String, s: String) => h.ops.filter(o => o.kind == k && o.name == s).map(_.wall).toSeq
    if (h.traced) {
      val textBytes = docRows.values.map(_.getString(2).getBytes("UTF-8").length + 8.0).sum
      val vecBytes = embRows.size * (8.0 + 4.0 * 64)
      sinks.foreach { s =>
        h.layer(s"sinks.${s.name}.build_s") = Stats.median(walls("build", s.name))
        h.layer(s"sinks.${s.name}.append_s") = Stats.median(walls("append", s.name))
        h.layer(s"sinks.${s.name}.compact_s") = Stats.median(walls("compact", s.name))
        h.layer(s"sinks.${s.name}.bytes_per_input_byte") =
          dirBytes(new File(s"${dir(s)}-c")) / (if (s.name == "vector") vecBytes else textBytes)
      }
      h.layer("sinks.append_batch_s") = Stats.median(
        h.ops.filter(_.kind == "append").groupBy(_.round).values.map(_.map(_.wall).sum).toSeq)
      h.layer("sinks.ingest_s") = h.ops.filter(o => Set("build", "append", "compact")(o.kind))
        .map(_.wall).sum
    }
    h.diag("rounds") = rounds.toString
    h.diag("indexed_docs") = main.size.toString
    "search"
  }
}
