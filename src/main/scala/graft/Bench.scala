package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.SessionTuning
object Bench {

  /** Per-query timings out of a committed bench record's JSON text.
    * Tolerates whitespace around the colon: committed records may be
    * pretty-printed, and a layout the regex missed would parse to an
    * empty common query set and silently disarm the baseline guard
    * (BenchParseSpec pins both layouts). */
  private[graft] def parseQueryTimings(txt: String): Map[String, Double] = {
    val body = txt.drop(txt.indexOf("\"queries\""))
    """"(q[0-9][^"]*)"\s*:\s*([0-9.Ee+-]+)""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in query text or an error message would
    * otherwise make a json.load of the record fail. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Run the DECLARED plan and return its row count. count() is NOT a
    * fair force: Catalyst prunes every unreferenced projection under it
    * (map-only queries collapse to bare scans) and even eliminates a left
    * join whose aggregated right side is provably unique-keyed — q60's
    * whole pipeline optimizes away under count(). toRdd materializes the
    * query's own output columns, so every operator pays its real cost. */
  def force(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** `parse`'s value, where `parse` reads a tool's command line and checks
    * its inputs. On an IllegalArgumentException its message and `usage` go
    * to stderr and the JVM exits 2, before any session starts. */
  def parseOrExit[A](usage: String)(parse: => A): A =
    try parse catch { case e: IllegalArgumentException =>
      System.err.println(s"${e.getMessage}\n\n$usage")
      sys.exit(2)
    }

  /** Operators that persist() intermediates (similarity joins,
    * clustering) leave their blocks cached after the action; drop them
    * between runs so later queries aren't timed under accumulated memory
    * pressure. */
  def dropCaches(s: SparkSession): Unit = {
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    s.catalog.clearCache()
  }

  /** Reclaim session state between queries: caches, then a forced GC so
    * the ContextCleaner actually releases unreferenced broadcasts and
    * shuffle files. A late-session JVM (many plans' generated classes,
    * accumulated broadcast/shuffle blocks) inflated timings 2-4x over
    * isolated runs, surviving even the min-of-3; warm-then-time
    * ADJACENTLY per query plus GC between queries keeps each measurement
    * near its isolation state. */
  def reclaim(s: SparkSession): Unit = {
    dropCaches(s)
    System.gc()
  }

  /** Sum of `now` over the queries both records timed, divided by the
    * same sum in `prev`; None when they share no query. */
  private def aggregateRatio(now: collection.Map[String, Double],
      prev: collection.Map[String, Double]): Option[Double] = {
    val common = (now.keySet & prev.keySet).toSeq.sorted
    if (common.isEmpty) None
    else Some(common.map(now).sum / math.max(common.map(prev).sum, 1e-9))
  }

  // Timed passes per query; the MIN is reported. A single timed pass is
  // noise-fragile (a GC pause or machine contention mid-run reads as a
  // phantom regression); min-of-3 measures the plan, not the weather.
  private val Iters = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    parseOrExit("usage: [SPARK_GRAFT_SF_DIR=<sfDir>] graft.Bench")(
      graft.core.Tables.requireAll(sfDir))
    type Query = (SparkSession, String) => DataFrame
    // A query that THROWS is a failure, never a timing: a time-to-throw
    // must not be recorded as if it were a real run. Failures land in the
    // emitted JSON's "errors" field and the query is excluded from
    // "queries"/total.
    def attempt(s: SparkSession, fn: Query): Option[String] =
      try { force(fn(s, sfDir)); None }
      catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    def timed(s: SparkSession, fn: Query): Double = {
      val t0 = System.nanoTime()
      attempt(s, fn)
      val sec = (System.nanoTime() - t0) / 1e9
      dropCaches(s)
      sec
    }
    // Re-measure one query in a BRAND-NEW SparkContext — the state an
    // isolated BenchOne run starts from — so a min that carries
    // accumulated-session inflation (generated classes, code-cache and
    // broadcast pressure from the plans timed before it, which reclaim()
    // can't give back) gets a clean second measurement. One warm pass
    // (parquet footers, codegen, JIT for this plan only), then 3 timed.
    def remeasureFresh(name: String): Seq[Double] = {
      val fn = SparkEntry.queries(name)
      val s = SessionTuning.local()
      attempt(s, fn)
      reclaim(s)
      val fresh = (0 until 3).map(_ => timed(s, fn))
      s.stop()
      fresh
    }
    val spark0 = SessionTuning.local()
    // Warm the session (parquet reader init, codegen, shuffle machinery) so
    // per-query timings reflect steady state, not first-touch JVM costs.
    graft.core.Tables.names.foreach { t =>
      try graft.core.Tables.load(spark0, sfDir, t).count()
      catch { case _: Throwable => }
    }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val suspects = scala.collection.mutable.ArrayBuffer[String]()
    val results = scala.collection.mutable.Map.empty[String, Double]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // warm THIS query's generated code and JIT profile with one untimed
      // pass at the target scale factor (AQE picks different physical plans
      // — and therefore different generated code — at other SFs), right
      // before its timed passes so the hot code is freshly compiled and
      // the session state matches isolation.
      val warmErr = attempt(spark0, fn)
      reclaim(spark0)
      warmErr match {
        case Some(err) =>
          errors(name) = err
        case None =>
          var times = (0 until Iters).map(_ => timed(spark0, fn))
          // Session-state tripwire: if even the best timed pass is way off
          // the typical run, the measurement is suspect — reclaim hard and
          // give it one more chance, then queue it for the fresh-session
          // retry below.
          if (times.min * 2 < times.max) {
            reclaim(spark0)
            times = times :+ timed(spark0, fn)
            if (times.min * 2 < times.max) suspects += name
          }
          reclaim(spark0)
          results(name) = times.min
      }
    }
    spark0.stop()
    // Fresh-session retry: report the best of both runs. A suspect whose
    // fresh passes are stable is then a trusted measurement and leaves the
    // suspect list; only queries that stay noisy in an isolated context
    // remain flagged. The flag is on the MEDIAN of the 3 fresh passes, so
    // a single GC hiccup is absorbed and only a query that is slow in the
    // majority of isolated passes stays flagged.
    val stillSuspect = scala.collection.mutable.ArrayBuffer[String]()
    suspects.sorted.foreach { name =>
      val fresh = remeasureFresh(name)
      results(name) = math.min(results(name), fresh.min)
      if (fresh.min * 2 < fresh.sorted.apply(1)) stillSuspect += name
    }
    // Machine-contention guard: the suspect machinery catches WITHIN-run
    // instability, but a uniformly loaded machine inflates every pass
    // equally and the committed record silently becomes useless as a
    // regression base. Local protocol: export
    // SPARK_GRAFT_BENCH_BASELINE=<previous committed BENCH_LOCAL json>.
    // Individually-regressed queries (>1.25x) get one fresh-context
    // re-measure; if the common-query aggregate STILL exceeds 1.25x the
    // baseline, the run fails (exit 2) — code didn't get uniformly
    // slower, the machine did; re-record on a quiet box. Without the env
    // var the guard is off.
    def parseQueries(path: String): Map[String, Double] = {
      val txt = {
        val src = scala.io.Source.fromFile(path)
        try src.mkString finally src.close()
      }
      Bench.parseQueryTimings(txt)
    }
    var contendedRatio: Option[Double] = None
    sys.env.get("SPARK_GRAFT_BENCH_BASELINE").foreach { bp =>
      val prev = parseQueries(bp)
      aggregateRatio(results, prev).filter(_ > 1.25).foreach { ratio =>
        val regressed = (results.keySet & prev.keySet).toSeq.sorted
          .filter(k => results(k) > prev(k) * 1.25)
        System.err.println(
          f"[bench] baseline guard: aggregate ${ratio}%.2fx vs $bp; " +
            s"re-measuring ${regressed.size} regressed queries in fresh " +
            "contexts")
        regressed.foreach { name =>
          results(name) = math.min(results(name), remeasureFresh(name).min)
        }
        contendedRatio = aggregateRatio(results, prev).filter(_ > 1.25)
      }
    }
    // Drift report: the env-var guard above protects only local records,
    // so every sf0.1 run also self-compares against the latest committed
    // BENCH_r*.json in the working directory and reports the common-query
    // aggregate ratio plus the worst >1.25x per-query movers IN the
    // record. Informational only (never an exit code: a run without a
    // baseline must still ship its record), but the machine-vs-code
    // question is answered in-run.
    val drift: String =
      if (!sfDir.endsWith("sf0.1")) ""
      else {
        val files = Option(new java.io.File(".").listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(_.getName.matches("BENCH_r[0-9]+\\.json"))
        if (files.isEmpty) ""
        else {
          val latest = files.maxBy(_.getName)
          val prev = try parseQueries(latest.getPath)
            catch { case _: Throwable => Map.empty[String, Double] }
          aggregateRatio(results, prev).fold("") { ratio =>
            val movers = (results.keySet & prev.keySet).toSeq.sorted
              .filter(k => results(k) > prev(k) * 1.25 &&
                results(k) - prev(k) > 0.2)
              .sortBy(k => -(results(k) / prev(k))).take(10)
            val mstr = movers
              .map(k => jsonString(k) + ":" + f"${results(k) / prev(k)}%.2f")
              .mkString("{", ",", "}")
            if (ratio > 1.25) System.err.println(
              f"[bench] drift: common-query aggregate $ratio%.2fx vs " +
                s"${latest.getName} — environment drift; adjudicate " +
                "against the per-query movers in the record")
            s""","drift_vs":${jsonString(latest.getName)},"drift_ratio":${
              f"$ratio%.3f"},"drift_queries":$mstr"""
          }
        }
      }
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => jsonString(k) + ":" + v }.mkString("{", ",", "}")
    val errs = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => jsonString(k) + ":" + jsonString(v) }
      .mkString("{", ",", "}")
    val susp = stillSuspect.sorted.map(jsonString).mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val nCatalog = SparkEntry.queries.size
    val contended = contendedRatio.fold("")(r => s""","contended":$r""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"suspect":$susp,"n_queries":${results.size},"n_catalog":$nCatalog$contended$drift,"sf":"$sfDir"}""")
    // The full per-query line above is ~12 KB at 228 queries, which
    // overflows a 2000-char stdout tail. Print a compact (<1500-byte)
    // summary line LAST so the tail always ends with a parseable record;
    // its own metric name keeps parsers from mistaking it for the
    // per-query record.
    println(s"""{"metric":"total_compact","value":$total,"unit":"sec","n_queries":${results.size},"n_catalog":$nCatalog,"n_errors":${errors.size},"n_suspect":${stillSuspect.size}$contended,"sf":"$sfDir"}""")
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    }
    // Catalog-coverage guard: a bench record that covers fewer queries
    // than the catalog must FAIL, not silently ship a partial timing
    // file. Timed + errored must account for every catalog entry, and
    // any error is itself a failure.
    if (results.size + errors.size != nCatalog || errors.nonEmpty) {
      System.err.println(
        s"[bench] GUARD: timed ${results.size} + failed ${errors.size} " +
          s"!= catalog $nCatalog — bench record is not shippable")
      sys.exit(1)
    }
    contendedRatio.foreach { r =>
      System.err.println(
        f"[bench] GUARD: common-query aggregate $r%.2fx the baseline " +
          "record even after fresh-context re-measures — the machine is " +
          "contended; this record is NOT a valid regression base. " +
          "Re-record on a quiet box (load average near zero).")
      sys.exit(2)
    }
  }
}
