package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import graft.SparkEntry
import graft.algorithms.Bqsr
import graft.core.{GenomicDataset, SessionTuning, Tables}
import graft.model.Alignment
import graft.operators.AlignmentOps
import graft.sources.BamIO

/** The benchmark's JVM side: runs one workload in one driver process with
  * one closed-loop client and writes a raw record (timings, spans, listener
  * counters, output checks) as JSON. `perfbench/run.py` turns the record
  * into metrics; all arithmetic lives there.
  *
  * Run shape: `Setups` set-ups (session + table or input warm-up; the last
  * session is kept), one cold pass, then `--passes` warm passes. A fixed
  * count, not a time limit, so every run and every commit does the same
  * work. With `--trace 1` the Spark listeners are attached and warm passes
  * alternate traced / untraced, so the record also carries the tracing
  * overhead. */
object Harness {

  final case class Args(workload: String, passes: Int, trace: Boolean,
      cpus: Int, work: String, data: String, tables: Seq[String], ops: Seq[String],
      input: String, reads: Int, seed: Long, out: String)

  final case class Op(id: Int, name: String, latency_s: Double, ok: Boolean,
      error: String, check: Map[String, Any])

  final case class Pass(kind: String, traced: Boolean, ops: Seq[Op],
      codegen_classes: Long, codegen_ms: Double)

  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val record = run(a)
    val f = new File(a.out)
    java.nio.file.Files.writeString(f.toPath, Json(record))
  }

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, "arguments come in --key value pairs")
    val kv = argv.grouped(2).map { case Array(k, v) => k -> v }.toMap
    val known = Set("--workload", "--passes", "--trace", "--cpus", "--work",
      "--data", "--tables", "--ops", "--input", "--reads", "--seed", "--out")
    val unknown = kv.keySet -- known
    require(unknown.isEmpty, s"unknown arguments: ${unknown.mkString(" ")}")
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    def int(k: String) = get(k).toIntOption
      .getOrElse(throw new IllegalArgumentException(s"$k must be an integer"))
    val workload = get("--workload")
    def list(k: String) = kv.get(k).toSeq.flatMap(_.split(",").toSeq)
    val ops = list("--ops")
    val a = Args(workload, int("--passes"), int("--trace") == 1, int("--cpus"),
      get("--work"), kv.getOrElse("--data", ""), list("--tables"), ops,
      kv.getOrElse("--input", ""), kv.get("--reads").map(_ => int("--reads")).getOrElse(0),
      kv.get("--seed").map(_ => get("--seed").toLong).getOrElse(0L), get("--out"))
    require(a.passes >= 2, "--passes must be at least 2")
    workload match {
      case "catalog-short" | "catalog-heavy" =>
        val missing = ops.filterNot(SparkEntry.queries.contains)
        require(ops.nonEmpty && missing.isEmpty,
          s"unknown catalog queries: ${missing.mkString(" ")}")
        val absent = a.tables.filterNot(t => new File(s"${a.data}/$t.parquet").exists)
        require(absent.isEmpty, s"tables missing under ${a.data}: ${absent.mkString(" ")}")
      case "align-pipeline" =>
        require(a.reads > 0 && a.input.nonEmpty, "align-pipeline needs --input and --reads")
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    a
  }

  /** The session of `graft.Bench`, with Spark's local dirs inside the work dir. */
  def makeSession(a: Args): SparkSession = {
    val s = SessionTuning(SparkSession.builder())
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(a: Args): Map[String, Any] = {
    val trace = new Trace
    val align = a.workload == "align-pipeline"
    val gen = if (align) Some(prepareInput(a)) else None

    // ---------------------------------------------------------- set-up
    var spark: SparkSession = null
    val setups = (0 until Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = trace.now()
      spark = trace.span("session", -1)(makeSession(a))
      val t1 = trace.now()
      trace.span("table_load", -1) {
        if (align) {
          val n = BamIO.read(spark, a.input).ds.count()
          require(n == gen.get.reads, s"input holds $n reads, expected ${gen.get.reads}")
        } else a.tables.foreach(t => Tables.load(spark, a.data, t).count())
      }
      val t2 = trace.now()
      Map("session_s" -> (t1 - t0) / 1e3, "table_load_s" -> (t2 - t1) / 1e3)
    }
    if (a.trace) trace.attach(spark)

    // ---------------------------------------------------------- passes
    var nextId = 0
    def op(name: String, traced: Boolean)(body: Int => Map[String, Any]): Op = {
      val id = nextId
      nextId += 1
      trace.beginOp(id)
      val t0 = trace.now()
      val res = try Right(trace.span("op", id)(body(id)))
        catch { case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      val t1 = trace.now()
      if (traced) trace.drain(spark)
      trace.endOp()
      Op(id, name, (t1 - t0) / 1e3, res.isRight, res.left.getOrElse(""),
        res.getOrElse(Map.empty))
    }

    def catalogPass(traced: Boolean): Seq[Op] = a.ops.map { name =>
      val fn = SparkEntry.queries(name)
      val o = op(name, traced) { id =>
        val df = trace.span("build", id)(fn(spark, a.data))
        val (rows, hash) = trace.span("force", id)(RowHash.forceAndHash(df))
        if (traced) trace.recordQe(df.queryExecution, id, trace.now())
        Map("rows" -> rows, "hash" -> RowHash.hex(hash))
      }
      reclaim(spark)
      o
    }

    def alignPass(traced: Boolean): Seq[Op] = {
      val pq = s"${a.work}/out.parquet"
      val bam = s"${a.work}/out.bam"
      def force(name: String, id: Int, gd: GenomicDataset[Alignment]): Unit =
        if (traced) trace.span(s"$name.force", id)(gd.ds.queryExecution.toRdd.foreach(_ => ()))
      val pipeline = op("pipeline", traced) { id =>
        val read = trace.span("read.call", id)(BamIO.read(spark, a.input))
        force("read", id, read)
        val marked = trace.span("markdup.call", id)(
          read.transform(ds => AlignmentOps.markDuplicates(ds, read.meta.readGroups)))
        force("markdup", id, marked)
        val recal = trace.span("bqsr.call", id)(
          marked.transform(ds => Bqsr(ds, Bqsr.SnpMask.empty)))
        force("bqsr", id, recal)
        val sorted = trace.span("sort.call", id)(recal.sortLexicographically())
        force("sort", id, sorted)
        trace.span("parquet_write.call", id)(sorted.saveAsParquet(pq))
        trace.span("bam_write.call", id)(BamIO.write(sorted, bam))
        Map.empty
      }
      // output checks, untimed: records in = out, planted duplicates
      // flagged, BAM sorted, both outputs hold the same records
      implicit val g: Gen = gen.get
      val checked = if (!pipeline.ok) pipeline else {
        val pqc = checkOutput(spark.read.parquet(pq), pq, sorted = false)
        val bamc = checkOutput(BamIO.read(spark, bam).ds.toDF(), bam, sorted = true)
        val errors = pqc.errors.map("parquet: " + _) ++ bamc.errors.map("bam: " + _) ++
          (if (pqc.hash == bamc.hash) Nil else Seq("BAM and parquet outputs hold different records"))
        pipeline.copy(ok = errors.isEmpty, error = errors.mkString("; "),
          check = Map("rows" -> pqc.rows, "duplicates" -> pqc.duplicates,
            "parquet_bytes" -> pqc.bytes, "bam_bytes" -> bamc.bytes))
      }
      delete(pq); delete(bam); delete(bam + "._parts")
      reclaim(spark)
      Seq(checked)
    }

    def pass(kind: String, traced: Boolean): Pass = {
      val c0 = trace.codegenClasses
      val m0 = trace.codegenMs
      val ops = if (align) alignPass(traced) else catalogPass(traced)
      Pass(kind, traced, ops, trace.codegenClasses - c0, trace.codegenMs - m0)
    }

    val passesStart = trace.now()
    val passes = ArrayBuffer[Pass]()
    passes += pass("cold", a.trace)
    val warm0 = trace.now()
    // with tracing on, warm passes alternate traced / untraced
    while (passes.length <= a.passes) {
      val traced = a.trace && passes.length % 2 == 1
      if (a.trace) { if (traced) trace.attach(spark) else trace.detach(spark) }
      passes += pass("warm", traced)
    }
    if (a.trace) trace.detach(spark)
    val warmEnd = trace.now()
    spark.stop()

    Map(
      "workload" -> a.workload, "cpus" -> a.cpus, "trace" -> a.trace,
      "setups" -> setups, "passes" -> passes,
      "gen" -> gen.map(g => Map("reads" -> g.reads, "planted" -> g.planted,
        "input_bytes" -> du(new File(a.input)), "gen_s" -> g.genS)),
      "peak_rss_mb" -> peakRssMb(),
      "clock" -> Map(
        "jvm_start" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble,
        "passes_start" -> passesStart, "warm_start" -> warm0, "warm_end" -> warmEnd,
        "stopped" -> trace.now()),
      "spans" -> trace.spans,
      "jobs" -> trace.jobs,
      "tasks" -> trace.taskSums.map { case (o, s) => o.toString -> s.toSeq },
      "qes" -> trace.qes)
  }

  final case class Gen(reads: Long, planted: Long, genS: Double)

  /** Generates the seeded input once per (seed, size); later runs reuse it. */
  private def prepareInput(a: Args): Gen = {
    val meta = new File(a.input + ".json")
    if (new File(a.input).exists && meta.exists) {
      val Array(r, p) = java.nio.file.Files.readString(meta.toPath).trim.split(" ")
      Gen(r.toLong, p.toLong, 0.0)
    } else {
      delete(a.input + ".tmp")
      val t0 = System.nanoTime()
      val s = BamGen.write(a.input + ".tmp", a.seed, a.reads)
      new File(a.input + ".tmp").renameTo(new File(a.input))
      java.nio.file.Files.writeString(meta.toPath, s"${s.reads} ${s.planted}")
      Gen(s.reads, s.planted, (System.nanoTime() - t0) / 1e9)
    }
  }

  private val HashCols = Seq("readName", "referenceName", "start", "cigar",
    "duplicateRead", "readNegativeStrand", "sequence", "qualityScores", "mappingQuality")

  final case class OutputCheck(rows: Long, duplicates: Long, hash: String, bytes: Long,
      errors: Seq[String])

  private def checkOutput(df: DataFrame, path: String, sorted: Boolean)(implicit g: Gen): OutputCheck = {
    val r = df.agg(count(lit(1)), sum(col("duplicateRead").cast("long")),
      sum(xxhash64(HashCols.map(col): _*).cast("decimal(38,0)"))).head()
    val n = r.getLong(0)
    val dups = if (r.isNullAt(1)) 0L else r.getLong(1)
    val inOrder = !sorted || {
      val parts = df.select(col("referenceName"), col("start")).rdd
        .mapPartitionsWithIndex { (i, it) =>
          var first: (String, Long) = null
          var last: (String, Long) = null
          var ok = true
          it.foreach { row =>
            val k = (row.getString(0), row.getLong(1))
            if (first == null) first = k
            if (last != null && before(k, last)) ok = false
            last = k
          }
          Iterator((i, first, last, ok))
        }.collect().sortBy(_._1).filter(_._2 != null)
      parts.forall(_._4) && parts.sliding(2).forall {
        case Array(p, q) => !before(q._2, p._3)
        case _ => true
      }
    }
    val errors = Seq(
      if (n != g.reads) Some(s"$n records out, ${g.reads} in") else None,
      if (dups != g.planted) Some(s"$dups duplicates flagged, ${g.planted} planted") else None,
      if (inOrder) None else Some("not sorted by (referenceName, start)")
    ).flatten
    OutputCheck(n, dups, r.getDecimal(2).toString, du(new File(path)), errors)
  }

  private def before(a: (String, Long), b: (String, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)

  /** Between ops, untimed, as `graft.Bench` does between queries: drop the
    * blocks that persisting operators leave cached, then collect garbage so
    * the ContextCleaner releases unreferenced broadcasts and shuffle files
    * now rather than inside a later op. */
  private def reclaim(s: SparkSession): Unit = {
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    s.catalog.clearCache()
    System.gc()
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum
    else if (f.exists) f.length else 0L

  private def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(path))
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
