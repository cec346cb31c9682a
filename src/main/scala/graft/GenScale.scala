package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-ramp data generator (round-6 scale evidence, VERDICT r5 ask #1):
  * expands an existing testdata dir by an integer factor with the
  * key-shifted-replica construction, so the engine's sf0.1→sf1 scaling can
  * be MEASURED instead of argued from plan shape.
  *
  * `runMain graft.GenScale <inDir> <outDir> [replicas=10]`
  *
  * Construction (deterministic, seedless — replica index is the only
  * randomness source, hashed where decorrelation is needed):
  *  - fixed dims (`region`, `nation`) copy through unchanged;
  *  - every entity key (custkey / orderkey / partkey / suppkey / user_id /
  *    event_id / doc_id / vec_id) shifts by `replica * STRIDE` with the SAME
  *    stride on both sides of every FK edge, so each replica is a
  *    self-contained universe: join fan-outs, group sizes and selectivities
  *    per key stay exactly sf0.1-shaped while global cardinality scales
  *    linearly — the way a real corpus grows (more users, not hotter keys);
  *  - timestamps are NOT shifted: N× the traffic over the same calendar —
  *    per-day/window group COUNTS grow N× (the scale axis that stresses
  *    aggregation), day cardinality stays constant;
  *  - `documents.text` gets a per-replica token suffix (replica 0 verbatim),
  *    so the near-dup structure replicates independently instead of turning
  *    the corpus into one giant duplicate cluster (candidate pairs must
  *    scale ~N, not N²);
  *  - `embeddings.embedding` gets a per-(replica, dim) deterministic sign
  *    flip: norms and within-replica geometry are preserved, cross-replica
  *    cosines collapse toward 0 — again keeping near-neighbor counts ~N.
  */
object GenScale {
  // larger than any key in any generated dir (sf1 would need ≥ 6M lineitem
  // orderkeys; 100M leaves two orders of headroom and stays far from Long
  // overflow at any plausible replica count)
  val Stride = 100000000L

  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.builder()
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def in(name: String): DataFrame = Tables.parquet(spark, s"$inDir/$name.parquet")
    // Scaled tables MUST be written as multiple files: the driver fixtures
    // are single-file/single-row-group, and crossJoin(broadcast(reps))
    // preserves that 1-partition layout, so a decade table written as-is
    // is ONE file with ONE row group — unsplittable, every scan a single
    // task. The r8 sf10 bench ramp caught this as apparent 17-24x
    // per-decade "superlinearity" on the map-heavy text keys: they were
    // measuring a 1-core scan, the exact anti-pattern the engine's own
    // scale dossier warns about. Hash-distributing on the table's id key
    // is deterministic (same rows -> same file) and gives
    // max(cores, replicas) splits, capped so per-file size stays sane.
    val distKey = Map(
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey",
      "lineitem" -> "l_orderkey", "events" -> "event_id",
      "documents" -> "doc_id", "embeddings" -> "vec_id")
    def write(df: DataFrame, name: String, scaled: Boolean = true): Unit = {
      val parts = math.min(200,
        math.max(spark.sparkContext.defaultParallelism, replicas))
      val out = distKey.get(name).filter(_ => scaled)
        .map(k => df.repartition(parts, col(k)))
        .getOrElse(df)
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }

    // one row per replica index, cross-joined in (broadcast — tiny)
    val reps = spark.range(replicas).select(col("id").as("rep"))
    def shifted(name: String, keyCols: Seq[String]): DataFrame = {
      val base = in(name).crossJoin(broadcast(reps))
      keyCols.foldLeft(base)((df, k) =>
        df.withColumn(k, col(k) + col("rep") * Stride)).drop("rep")
    }

    // optional 4th arg: comma-separated table subset to SCALE (dev tooling —
    // a sf10+ ramp point for the scale families needs events/documents/
    // embeddings but not the 60M-row lineitem replica). Tables outside the
    // subset copy through at base scale (r7: previously they were omitted,
    // which limited subset decades to hand-picked key lists — a complete
    // dir lets the FULL oracle sweep run, with non-subset families simply
    // re-verified at base size on the same consistent dir).
    val allTables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val only: Set[String] =
      if (args.length > 3 && args(3) != "-") args(3).split(",").toSet
      else allTables
    // optional 5th arg `hotline=<x>`: plant a fixed 12-token boilerplate
    // line at the START of documents, line-aligned at off=0 — the hot-key
    // fixture for the line-dedup skew experiment (VERDICT r6 ask #4).
    // x <= 1: one copy in ~x of all docs (deterministic doc_id split);
    // x > 1: round(x) stacked copies in EVERY doc — at x=10 on ~115-token
    // docs the one line key holds ~half of all line rows, the
    // heavy-boilerplate web case a rank-1 window cannot split across
    // tasks.
    val hotFrac: Option[Double] = args.collectFirst {
      case a if a.startsWith("hotline=") => a.stripPrefix("hotline=").toDouble
    }
    // optional arg `halfcell=<k>`: per event_type, append k synthetic hours
    // past the existing span, each holding exactly 32 events whose cent sum
    // is ODD — the true hourly average is then cents·10⁴/32 = cents·312.5,
    // an EXACT 6-dp half, at a binary-inexact double (denominator keeps a
    // factor 5²). This is the r7 event_interpolate defect class
    // (round(double, 6) of a true half is engine-dependent) as a plantable
    // fixture: a decade sweep over halfcell data exercises every
    // value-average round site cross-engine (VERDICT r7 ask #4). Rows are
    // deterministic; ids mint above the scaled id space.
    val halfCells: Option[Int] = args.collectFirst {
      case a if a.startsWith("halfcell=") => a.stripPrefix("halfcell=").toInt
    }
    val HotLine = (1 to 12).map(i => s"boiler$i").mkString(" ")
    def writeIf(name: String)(df: => DataFrame): Unit =
      if (only.contains(name)) write(df, name)
      else write(in(name), name, scaled = false) // base-scale copy-through

    writeIf("region")(in("region"))
    writeIf("nation")(in("nation"))
    writeIf("customer")(shifted("customer", Seq("c_custkey")))
    writeIf("supplier")(shifted("supplier", Seq("s_suppkey")))
    writeIf("part")(shifted("part", Seq("p_partkey")))
    writeIf("orders")(shifted("orders", Seq("o_orderkey", "o_custkey")))
    writeIf("lineitem")(
      shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")))
    writeIf("events")(halfCells.fold(
      shifted("events", Seq("event_id", "user_id"))) { k =>
      val base = shifted("events", Seq("event_id", "user_id"))
      val types = in("events").select("event_type").distinct()
        .orderBy("event_type").collect().map(_.getString(0)) // tiny domain
      val b = in("events")
        .agg(max(col("event_id")), max(col("user_id")),
          date_trunc("hour", max(col("ts")))).head()
      val (maxId, maxUid) = (b.getLong(0), b.getLong(1))
      val hour0 = b.getTimestamp(2)
      // per (type ti, cell j, event e<32): value = 10.01 except e=0 →
      // 10.02, so cents = 31·1001 + 1002 = 32033 (odd) in every cell
      val planted = spark.range(types.length.toLong * k * 32)
        .select(
          (lit(Stride) * replicas + maxId + 1 + col("id")).as("event_id"),
          expr("id div 32").as("cell"),
          (col("id") % 32).as("e"))
        .select(
          col("event_id"),
          (unix_timestamp(lit(hour0)) + (col("cell") + 1) * 3600L)
            .cast("timestamp").as("ts"),
          (lit(Stride) * replicas + maxUid + 1 + col("e")).as("user_id"),
          element_at(
            typedLit(types.toSeq), expr(s"CAST(cell div $k AS INT)") + 1)
            .as("event_type"),
          when(col("e") === 0, 10.02).otherwise(10.01).as("value"),
          lit("""{"k": 1}""").as("props"))
        // driver fixtures carry NTZ timestamps (and Spark round-trips
        // them as such) — the planted rows must match the base dtype or
        // the union coerces the whole column to tz-adjusted
        .withColumn("ts", col("ts").cast(base.schema("ts").dataType))
      base.unionByName(planted)
    })

    lazy val docs = {
      val base = in("documents").crossJoin(broadcast(reps))
        .withColumn("doc_id", col("doc_id") + col("rep") * Stride)
        .withColumn("text",
          when(col("rep") === 0, col("text")).otherwise(
            concat_ws(" ", transform(split(col("text"), " "),
              t => concat(t, lit("_"), col("rep"))))))
        .drop("rep")
      hotFrac.fold(base) { f =>
        if (f > 1.0) {
          val k = math.round(f).toInt
          val prefix = Seq.fill(k)(HotLine).mkString(" ") + " "
          base.withColumn("text", concat(lit(prefix), col("text")))
        } else {
          val m = math.max(1L, math.round(1.0 / f))
          base.withColumn("text",
            when(pmod(xxhash64(col("doc_id")), lit(m)) === 0L,
              concat(lit(HotLine + " "), col("text"))).otherwise(col("text")))
        }
      }.withColumn("n_chars", length(col("text")))
    }
    writeIf("documents")(docs)

    lazy val emb = in("embeddings").crossJoin(broadcast(reps))
      .withColumn("vec_id", col("vec_id") + col("rep") * Stride)
      .withColumn("embedding",
        when(col("rep") === 0, col("embedding")).otherwise(
          zip_with(col("embedding"),
            transform(sequence(lit(0), size(col("embedding")) - 1),
              d => pmod(xxhash64(col("rep"), d), lit(2L))),
            (v, b) => when(b === 0L, v).otherwise(-v))))
      .drop("rep")
    writeIf("embeddings")(emb)

    println(s"GenScale: wrote ${replicas}x $inDir -> $outDir (${only.mkString(",")})")
    spark.stop()
  }
}
