package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `CaseMap.lower`/`upper` against Spark's `lower`/`upper` under Spark's
  * default ICU case mapping: same rows, same schema (nullability too), on
  * every code point, on context-sensitive strings, on invalid UTF-8, on
  * empty strings and on null. */
class CaseMapSpec extends SparkSpec {

  private val pairs: Seq[(String, Column => Column, Column => Column)] = Seq(
    ("lower", lower _, CaseMap.lower _),
    ("upper", upper _, CaseMap.upper _))

  /** Rows where graft's mapping of `s` differs from Spark's, as
    * (input, Spark's, graft's) strings. */
  private def mismatches(df: DataFrame): Seq[(String, String, String)] =
    pairs.flatMap { case (name, theirs, ours) =>
      df.select(col("s"), theirs(col("s")).as("want"), ours(col("s")).as("got"))
        .filter(!(col("want") <=> col("got")))
        .limit(20).collect()
        .map(r => (s"$name(${r.getString(0)})", r.getString(1), r.getString(2)))
    }

  /** `rows` as a column `s`, RDD-backed so that no optimizer rule folds
    * the mapping into a local relation. */
  private def frame[T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](rows: Seq[T]): DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(rows, 2)).toDF("s")

  /** Compared codegen'd, then interpreted. */
  private def bothPaths(df: DataFrame): Unit = {
    assert(mismatches(df).isEmpty, "codegen'd")
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(mismatches(df).isEmpty, "interpreted")
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("Spark's case mapping here is its ICU default") {
    assert(spark.conf.get("spark.sql.icu.caseMappings.enabled") == "true")
  }

  test("every code point except surrogates maps as Spark maps it") {
    val chars = udf((cp: Long) => new String(Character.toChars(cp.toInt)))
    val df = spark.range(0, 0x110000)
      .filter(col("id") < 0xD800 || col("id") > 0xDFFF)
      .select(chars(col("id")).as("s"))
    assert(mismatches(df).isEmpty, mismatches(df).mkString("\n"))
    // the range is the whole code space, and some of it changes case
    assert(df.count() == 0x110000 - 0x800)
    assert(df.filter(CaseMap.lower(col("s")) =!= col("s")).count() > 1000)
    assert(df.filter(CaseMap.upper(col("s")) =!= col("s")).count() > 1000)
  }

  test("context strings: final sigma, dotted I, sharp s, combining marks, mixed text") {
    import spark.implicits._
    val strings = Seq(
      "ΟΔΟΣ", "ΟΔΟΣ ΟΔΟΣ.", "Σ", "ΑΣ", "İ", "İstanbul", "ı", "ß", "Straße",
      "ﬁ", "ŉ", "ǅ", "é", "Ẹ́", "İ", "i̇",
      "ΐ", "Hello, ΩΜΕΓΑ Straße 42!", "ABC def", "ǰ", "ᾼ", "🙂 Ab", "\u0000A")
    bothPaths(frame(strings))
  }

  test("invalid UTF-8 cast from binary maps as Spark maps it") {
    import spark.implicits._
    val bytes = Seq(
      Array(0x41, 0xff, 0x42), Array(0xc3), Array(0xc3, 0x28, 0x41),
      Array(0xe2, 0x82), Array(0xed, 0xa0, 0x80, 0x61), Array(0xf4, 0x90, 0x80, 0x80),
      Array(0xc0, 0xaf, 0xce, 0xa3), Array(0x80, 0x80, 0x5a))
      .map(_.map(_.toByte))
    bothPaths(frame(bytes).select(col("s").cast("string").as("s")))
  }

  test("empty strings and nulls; schema and nullability match Spark's") {
    import spark.implicits._
    val df = frame(Seq(Some(""), None, Some("A"), None))
    bothPaths(df)
    val nonNull = spark.range(3).select(col("id").cast("string").as("s"))
    Seq(df, nonNull).foreach { in =>
      pairs.foreach { case (name, theirs, ours) =>
        assert(in.select(theirs(col("s"))).schema == in.select(ours(col("s"))).schema, name)
      }
    }
    assert(!nonNull.select(CaseMap.lower(col("s"))).schema.head.nullable)
    assert(df.select(CaseMap.lower(col("s"))).schema.head.nullable)
  }

  test("null-intolerant like Spark's: the same optimized plan, IsNotNull included") {
    import spark.implicits._
    val df = frame(Seq(Some("A"), None))
    def plan(f: Column => Column) = df.filter(f(col("s")) === "a")
      .queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "")
    assert(plan(CaseMap.lower).contains("isnotnull("))
    assert(plan(CaseMap.lower) == plan(lower))
  }
}
