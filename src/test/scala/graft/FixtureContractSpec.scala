package graft

import org.apache.spark.sql.types._

/** Fixture data-contract gate (VERDICT r4 ask #4): opens every table at all
  * three scales and asserts the canonical schema, so the next testdata
  * generator change fails HERE, in one named suite, instead of as 179
  * opaque red tests and 115 silently-missing driver rows (round 4's
  * TIMESTAMP(NANOS) → TIMESTAMP(MICROS) flip on `events.ts`).
  *
  * Timestamp columns accept every encoding the generator has shipped
  * (ns-as-long under the `nanosAsLong` conf, µs NTZ, µs LTZ) — the loaders
  * normalize them — but any OTHER type is a contract break and fails.
  */
class FixtureContractSpec extends SparkSpec {

  private val scales =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  /** Accepted Spark-loaded types per column. */
  private val ts: Set[DataType] = Set(LongType, TimestampNTZType, TimestampType)
  private def one(t: DataType): Set[DataType] = Set(t)

  private val contract: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region" -> Seq("r_regionkey" -> one(IntegerType), "r_name" -> one(StringType)),
    "nation" -> Seq("n_nationkey" -> one(IntegerType), "n_name" -> one(StringType),
      "n_regionkey" -> one(IntegerType)),
    "customer" -> Seq("c_custkey" -> one(LongType), "c_name" -> one(StringType),
      "c_nationkey" -> one(IntegerType), "c_acctbal" -> one(DoubleType),
      "c_mktsegment" -> one(StringType)),
    "supplier" -> Seq("s_suppkey" -> one(LongType), "s_name" -> one(StringType),
      "s_nationkey" -> one(IntegerType), "s_acctbal" -> one(DoubleType)),
    "part" -> Seq("p_partkey" -> one(LongType), "p_name" -> one(StringType),
      "p_brand" -> one(StringType), "p_type" -> one(StringType),
      "p_size" -> one(IntegerType), "p_retailprice" -> one(DoubleType)),
    "orders" -> Seq("o_orderkey" -> one(LongType), "o_custkey" -> one(LongType),
      "o_orderstatus" -> one(StringType), "o_totalprice" -> one(DoubleType),
      "o_orderdate" -> ts, "o_orderpriority" -> one(StringType)),
    "lineitem" -> Seq("l_orderkey" -> one(LongType), "l_partkey" -> one(LongType),
      "l_suppkey" -> one(LongType), "l_linenumber" -> one(IntegerType),
      "l_quantity" -> one(DoubleType), "l_extendedprice" -> one(DoubleType),
      "l_discount" -> one(DoubleType), "l_tax" -> one(DoubleType),
      "l_returnflag" -> one(StringType), "l_linestatus" -> one(StringType),
      "l_shipdate" -> ts),
    "events" -> Seq("event_id" -> one(LongType), "ts" -> ts,
      "user_id" -> one(LongType), "event_type" -> one(StringType),
      "value" -> one(DoubleType), "props" -> one(StringType)),
    "documents" -> Seq("doc_id" -> one(LongType), "text" -> one(StringType),
      "lang" -> one(StringType), "source" -> one(StringType),
      "n_chars" -> one(LongType)),
    "embeddings" -> Seq("vec_id" -> one(LongType),
      "embedding" -> Set[DataType](ArrayType(FloatType), ArrayType(FloatType, false)),
      "label" -> one(IntegerType)))

  for (dir <- scales; (table, cols) <- contract.toSeq.sortBy(_._1)) {
    test(s"$table at $dir matches the fixture contract") {
      val df = Tables.table(spark, dir, table)
      val got = df.schema.fields.map(f => f.name -> f.dataType).toMap
      assert(df.schema.fieldNames.toSeq == cols.map(_._1),
        s"column set/order drifted for $table: ${df.schema.fieldNames.mkString(",")}")
      for ((name, accepted) <- cols)
        assert(accepted.contains(got(name)),
          s"$table.$name loaded as ${got(name)}, contract allows $accepted")
    }
  }

  /** `Tables.parquet`'s footer schema must be the one Spark infers, field
    * for field: name, type, nullability and metadata.
    */
  private def assertInferredSchema(paths: String*): Unit = {
    val inferred = spark.read.parquet(paths: _*).schema
    val read = Tables.parquet(spark, paths: _*).schema
    assert(read.fields.toSeq == inferred.fields.toSeq,
      s"Tables.parquet read $read, Spark infers $inferred")
  }

  for (dir <- scales; table <- contract.keys.toSeq.sorted) {
    test(s"$table at $dir: Tables.parquet's schema is the one Spark infers") {
      assertInferredSchema(s"$dir/$table.parquet")
    }
  }

  test("a Spark-written partitioned dir: Tables.parquet's schema is the one Spark infers") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.MetadataBuilder
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ts", TimestampType),
      StructField("local", TimestampNTZType),
      StructField("amount", DecimalType(18, 2)),
      StructField("tags", ArrayType(StringType, containsNull = false)),
      StructField("attrs", MapType(StringType, DoubleType)),
      StructField("actor", StructType(Seq(StructField("login", StringType)))),
      StructField("note", StringType, nullable = true,
        new MetadataBuilder().putString("comment", "free text").build()),
      StructField("d", DateType)))
    val ts = java.sql.Timestamp.valueOf("2024-01-15 10:00:00")
    val rows = Seq(
      Row(1L, ts, java.time.LocalDateTime.of(2024, 1, 15, 10, 0), BigDecimal("1.50").bigDecimal,
        Seq("a"), Map("x" -> 1.0), Row("u1"), "n1", java.sql.Date.valueOf("2024-01-15")),
      Row(2L, ts, null, null, Seq.empty[String], null, null, null,
        java.sql.Date.valueOf("2024-01-16")),
      Row(3L, null, null, null, Seq("b", "c"), Map.empty[String, Double], Row(null), "n3", null))
    val out = java.nio.file.Files.createTempDirectory("fixture-dir").toString + "/t"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.partitionBy("d").parquet(out)
    assert(new java.io.File(out, "_SUCCESS").exists)
    assertInferredSchema(out)
  }

  for (dir <- scales) {
    test(s"Tables.events normalizes ts to TimestampType at $dir") {
      assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType)
    }
  }

  test("events dispatch rejects an unhandled ts encoding (synthetic flip)") {
    // A generator flip to an encoding the loader does not recognize must
    // fail in Tables.events with the named IllegalStateException, not leak
    // downstream as an analysis error in 100 query keys.
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("fixture-flip").toString
    Tables.table(spark, scales.head, "events")
      .withColumn("ts", col("ts").cast(StringType))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, tmp))
    assert(e.getMessage.contains("unsupported parquet-loaded type"))
  }
}
