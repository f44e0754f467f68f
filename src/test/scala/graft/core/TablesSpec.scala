package graft.core

import graft.{SparkEntry, SparkSpec}
import graft.model._
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, TimestampNTZType, TimestampType}

/** Guards the driver-testdata contract (TESTDATA.md): whatever physical
  * parquet type the driver writes for `events.ts` (TIMESTAMP(NANOS) → Long
  * under nanosAsLong, or TIMESTAMP(MICROS, isAdjustedToUTC=false) →
  * TIMESTAMP_NTZ in Spark 4), `Tables.load` must hand downstream operators
  * a plain TimestampType column. Round 7 shipped with only the Long branch:
  * regenerated micros testdata read as NTZ, the shim skipped, and all six
  * events queries crashed at analysis (VERDICT r7 #1). */
class TablesSpec extends SparkSpec {

  private val sfDirs =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d + "/events.parquet").exists())

  test("events.ts normalizes to TimestampType on every driver SF") {
    assert(sfDirs.nonEmpty, "no driver testdata present")
    sfDirs.foreach { dir =>
      val df = Tables.load(spark, dir, "events")
      val tsType = df.schema("ts").dataType
      assert(tsType == TimestampType, s"$dir/events.parquet: ts read as $tsType")
      // the column must also be usable by the time-analytics family
      val n = df.select(unix_millis(col("ts"))).limit(1).count()
      assert(n == 1)
    }
  }

  test("NTZ normalization is exact under the UTC session timezone") {
    // Write an NTZ column ourselves, reload through the same normalization
    // path, and check micros are preserved bit-for-bit.
    val out = tmpDir()
    spark.sql(
      "SELECT id, timestamp_ntz '2024-03-01 12:34:56.789012' AS ts FROM range(3)")
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val raw = spark.read.parquet(s"$out/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType)
    val df = Tables.load(spark, out, "events")
    assert(df.schema("ts").dataType == TimestampType)
    val micros = df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSet
    // 2024-03-01T12:34:56.789012Z
    assert(micros == Set(1709296496789012L))
  }

  test("non-events tables pass through untouched") {
    sfDirs.headOption.foreach { dir =>
      val df = Tables.load(spark, dir, "lineitem")
      assert(!df.schema.fields.exists(_.name == "ts"))
      assert(df.limit(1).count() == 1)
    }
  }

  // ------------------------------------------------------------------
  // Tables.readParquet: the schema is read from the footers on the
  // driver, so a read starts no job, and it must equal spark.read.parquet
  // in schema and rows wherever graft reads parquet.

  private def sf0001 = sfDirs.find(_.endsWith("sf0.001"))

  test("Tables.load of every table starts no Spark job") {
    assert(sf0001.isDefined, "no sf0.001 testdata present")
    val dir = sf0001.get
    Tables.names.foreach { n =>
      assert(jobsDuring(Tables.load(spark, dir, n)) == 0, s"$n started a job")
    }
  }

  test("building a two-table catalog query starts no Spark job") {
    assert(sf0001.isDefined, "no sf0.001 testdata present")
    val q10 = SparkEntry.queries("q10_customers_without_orders")
    assert(jobsDuring(q10(spark, sf0001.get)) == 0)
  }

  /** Row count and two order-free sums of row hashes: equal multisets of
    * rows give equal fingerprints. Rows hash through their JSON, which
    * also covers map columns. */
  private def fingerprint(df: DataFrame): Row = {
    val json = to_json(struct(df.columns.map(c => col(s"`$c`")).toSeq: _*))
    def h(seed: Int) = sum(xxhash64(lit(seed), json).cast("decimal(38,0)"))
    df.agg(count(lit(1)), h(1), h(2)).head()
  }

  /** The reader and spark.read.parquet agree on `path`; returns the schema. */
  private def assertSameRead(path: String) = {
    val ours = Tables.readParquet(spark, path)
    val theirs = spark.read.parquet(path)
    assert(ours.schema == theirs.schema, s"$path: schema")
    assert(fingerprint(ours) == fingerprint(theirs), s"$path: rows")
    ours.schema
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def condition(body: => Any): String =
    try { body; fail("expected an error") }
    catch { case e: SparkThrowable => e.getCondition }

  test("readParquet equals spark.read.parquet on every table at every SF") {
    assert(sfDirs.nonEmpty, "no driver testdata present")
    sfDirs.foreach(dir => Tables.names.foreach(n => assertSameRead(s"$dir/$n.parquet")))
  }

  private implicit val featureEnc: org.apache.spark.sql.Encoder[Feature] =
    Encoders.product[Feature]

  private def features = GenomicDataset(spark.createDataset((0 until 40).map { i =>
    Feature(featureId = Some(s"f$i"), referenceName = Some("chr" + (i % 2 + 1)),
      start = Some(i * 700L), end = Some(i * 700L + 50L),
      attributes = Map("k" -> i.toString))
  }), GenomicMetadata(
    sequences = SequenceDictionary(Seq(SequenceRecord("chr1", 100000, index = Some(0)),
      SequenceRecord("chr2", 100000, index = Some(1)))),
    samples = Seq(Sample("s1"))))

  test("readParquet equals spark.read.parquet on a saveAsParquet directory") {
    val path = tmpDir() + "/feat.parquet"
    features.saveAsParquet(path)
    val names = new java.io.File(path).list().toSet
    assert(names.contains("_SUCCESS") && names.exists(_.startsWith("_graft_")) &&
      names.exists(_.startsWith("part-")), s"layout: $names")
    assertSameRead(path)
  }

  test("readParquet equals spark.read.parquet on a partitioned layout") {
    val path = tmpDir() + "/part.parquet"
    features.saveAsPartitionedParquet(path, binSize = 10000L)
    assert(assertSameRead(path).fieldNames.contains("positionBin"))
  }

  test("readParquet merges differing parts as spark.read.parquet does") {
    val path = tmpDir() + "/merge.parquet"
    spark.range(3).select(col("id"), lit("a").as("s")).write.parquet(path)
    spark.range(3, 5).select(col("id"), (col("id") * 2.5).as("d"))
      .write.mode("append").parquet(path)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(assertSameRead(path).fieldNames.toSet == Set("id", "s", "d"))
    }
    assertSameRead(path)
  }

  test("readParquet honours binaryAsString as spark.read.parquet does") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a file without Spark's schema in its footer, so the session's
    // parquet type mapping decides the column type
    val path = tmpDir() + "/bin.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required binary b; required int32 i; }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$path/part-0.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 3).foreach(i => writer.write(groups.newGroup().append("b", s"v$i").append("i", i)))
    finally writer.close()
    assert(assertSameRead(path)("b").dataType == BinaryType)
    withConf("spark.sql.parquet.binaryAsString", "true") {
      assert(assertSameRead(path)("b").dataType == StringType)
    }
  }

  test("readParquet fails as spark.read.parquet does on a missing or empty path") {
    val missing = tmpDir() + "/absent.parquet"
    assert(condition(Tables.readParquet(spark, missing)) ==
      condition(spark.read.parquet(missing)))
    val empty = tmpDir() + "/empty.parquet"
    new java.io.File(empty).mkdirs()
    new java.io.File(empty, "_SUCCESS").createNewFile()
    assert(condition(Tables.readParquet(spark, empty)) ==
      condition(spark.read.parquet(empty)))
  }

  test("readParquet sees a path overwritten with a new schema in the same session") {
    val path = tmpDir() + "/over.parquet"
    spark.range(4).select(col("id")).write.parquet(path)
    assert(Tables.readParquet(spark, path).schema.fieldNames.toSeq == Seq("id"))
    spark.range(2).select(concat(lit("x"), col("id").cast("string")).as("name"))
      .write.mode("overwrite").parquet(path)
    val again = Tables.readParquet(spark, path)
    assert(again.schema.fieldNames.toSeq == Seq("name"))
    assert(again.collect().map(_.getString(0)).toSet == Set("x0", "x1"))
  }
}
