package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import java.sql.Timestamp

/** Property-based invariants (SURVEY.md §5.2) over scalacheck-generated
  * event tables: the laws the reference's at-least-once + idempotent-storage
  * design depends on (ref: cmd/gh-load/main.go:257-261, README.md:14) hold
  * for ANY input, not just the fixtures. Deterministic seeds keep CI stable.
  */
class PropertySpec extends SparkSpec {

  private val genEvents: Gen[List[(Long, Long, Double)]] = for {
    n <- Gen.chooseNum(1, 120)
    rows <- Gen.listOfN(n, for {
      id <- Gen.chooseNum(0L, 30L)           // small id space forces dups
      tsOff <- Gen.chooseNum(0L, 6L * 24 * 3600)  // up to 6 days spread
      v <- Gen.chooseNum(0.0, 1000.0)
    } yield (id, tsOff, v))
  } yield rows

  private def sample(i: Long): List[(Long, Long, Double)] =
    genEvents.apply(Gen.Parameters.default, Seed(i))
      .getOrElse(List((0L, 0L, 0.0)))

  private def df(rows: List[(Long, Long, Double)]): DataFrame = {
    import spark.implicits._
    val base = 1700000000L
    rows.map { case (id, off, v) =>
      (id, new Timestamp((base + off) * 1000L), v)
    }.toDF("id", "ts", "value")
  }

  private val trials = (1L to 25L).toList

  test("property: exact dedup is idempotent and keyed (f(f(x)) == f(x))") {
    for (i <- trials) {
      val d = df(sample(i))
      val once = d.dropDuplicates("id")
      assert(once.count() == d.select("id").distinct().count(), s"seed=$i")
      // f(f(x)) == f(x): re-deduping the collected result is a no-op
      val rows = once.collect().toSet
      assert(rows.map(_.getLong(0)).size == rows.size, s"seed=$i")
    }
  }

  test("property: replace-by-key keeps exactly one, and the max, version per key") {
    for (i <- trials) {
      val d = df(sample(i))
      val kept = d
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("id").orderBy(col("ts").desc, col("value").desc)))
        .filter(col("rn") === 1).drop("rn")
      assert(kept.count() == d.select("id").distinct().count(), s"seed=$i")
      val maxVersion = d.groupBy("id")
        .agg(max(struct(col("ts"), col("value"))).as("v"))
        .select(col("id"), col("v.ts").as("ts"), col("v.value").as("value"))
      assert(kept.exceptAll(maxVersion).count() == 0, s"seed=$i")
    }
  }

  test("property: TTL filter is monotone and idempotent") {
    for (i <- trials) {
      val d = df(sample(i))
      val once = streaming.ArchiveStream.applyTtl(d)
      // subset of input
      assert(once.exceptAll(d).count() == 0, s"seed=$i")
      // applying again changes nothing (same max ts survives the filter)
      val twice = streaming.ArchiveStream.applyTtl(once)
      assert(twice.exceptAll(once).count() == 0 &&
        once.exceptAll(twice).count() == 0, s"seed=$i")
      // everything dropped is strictly older than cutoff = max ts - 3 days
      val mx = d.agg(max("ts")).head().getTimestamp(0)
      val dropped = d.exceptAll(once)
      assert(dropped.filter(
        col("ts") >= lit(Timestamp.from(mx.toInstant.minus(java.time.Duration.ofDays(3))))
      ).count() == 0, s"seed=$i")
    }
  }

  test("property: tumbling windows partition events exactly") {
    for (i <- trials) {
      val d = df(sample(i))
      val windowed = d.groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      // every event in exactly one window: counts add up
      assert(windowed.agg(sum("n")).head().getLong(0) == d.count(), s"seed=$i")
      // each window is exactly one hour and aligned
      val bad = windowed.filter(
        unix_timestamp(col("window.end")) - unix_timestamp(col("window.start")) =!= 3600 ||
        pmod(unix_timestamp(col("window.start")), lit(3600)) =!= 0).count()
      assert(bad == 0, s"seed=$i")
    }
  }

  test("property: ingest replay is idempotent (union with self, dedup, same archive)") {
    for (i <- trials) {
      val d = df(sample(i))
      val once = d.dropDuplicates("id")
      val replayed = d.union(d).dropDuplicates("id")
      assert(replayed.count() == once.count(), s"seed=$i")
      assert(replayed.select("id").exceptAll(once.select("id")).count() == 0, s"seed=$i")
    }
  }

  test("property: minhash signature equality for identical shingle sets") {
    // exact duplicates (J = 1) agree on EVERY band, so LSH recall of exact
    // dups is 1 regardless of hash seeds — the invariant dedup_minhash's
    // oracle depends on (DedupOps.oracle note)
    import spark.implicits._
    for (i <- trials.take(10)) {
      val text = sample(i).map(t => s"w${t._1 % 7}").mkString(" ")
      val d = Seq((0L, text, "en", "x", text.length.toLong),
                  (1L, text, "en", "y", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val dir = java.nio.file.Files.createTempDirectory(s"graft-prop-$i-").toString
      d.write.parquet(s"$dir/documents.parquet")
      val kept = SparkEntry.queries("dedup_minhash")(spark, dir)
        .select("doc_id").as[Long].collect().toSeq
      assert(kept == Seq(0L), s"seed=$i: identical docs must collapse to doc 0")
    }
  }

  test("property: compaction preserves the row multiset for any append pattern") {
    for (i <- trials.take(5)) {
      val rows = sample(i)
      val out = java.nio.file.Files
        .createTempDirectory(s"graft-prop-compact-$i-").toString + "/a"
      // append in 3 chunks to fragment the day partitions
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        df(chunk).withColumn("d", to_date(col("ts")))
          .write.mode("append").partitionBy("d").parquet(out)
      }
      def multiset() = spark.read.parquet(out)
        .select("id", "ts", "value").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getDouble(2)))
        .toSeq.sorted
      val before = multiset()
      graft.streaming.ArchiveStream.compact(spark, out, maxFilesPerPartition = 0)
      assert(multiset() == before, s"seed=$i")
    }
  }

  test("property: shingle hashes are a set function of the token trigram sequence") {
    // the fused ShingleHashes pass must agree with a direct reference
    // model: |shingles| = |distinct trigrams|, identical texts agree,
    // and a one-token change alters at most 3 shingles
    import org.apache.spark.unsafe.types.UTF8String
    for (i <- trials.take(15)) {
      val toks = sample(i).map(t => s"w${t._1 % 9}")
      val text = toks.mkString(" ")
      val sh = graft.functions.ShingleHashes.compute(UTF8String.fromString(text))
      if (toks.length >= 3) {
        val trigrams = toks.sliding(3).map(_.mkString("\u0000")).toSet
        assert(sh.length == trigrams.size, s"seed=$i")
        val again = graft.functions.ShingleHashes.compute(UTF8String.fromString(text))
        assert(sh.toSeq == again.toSeq, s"seed=$i")
        if (toks.length >= 4) {
          val changed = (toks.init :+ "CHANGED").mkString(" ")
          val sh2 = graft.functions.ShingleHashes
            .compute(UTF8String.fromString(changed)).toSet
          assert((sh.toSet diff sh2).size <= 3, s"seed=$i: last-token edit touches <= 3 shingles")
        }
      } else assert(sh.length == 1, s"seed=$i")
    }
  }

  test("property: simhash is invariant under token order and duplication") {
    import org.apache.spark.unsafe.types.UTF8String
    def sig(s: String): Long =
      graft.functions.SimHash64.compute(UTF8String.fromString(s))
    for (i <- trials.take(15)) {
      val toks = sample(i).map(t => s"w${t._1 % 9}")
      val base = sig(toks.mkString(" "))
      assert(sig(toks.reverse.mkString(" ")) == base, s"seed=$i: order")
      assert(sig((toks ++ toks).mkString(" ")) == base, s"seed=$i: duplication")
      // cross-check the seed-42 claim against Spark's own xxhash64: fold
      // the majority vote from SQL-computed token hashes
      import spark.implicits._
      val hs = toks.distinct.toDF("t").select(xxhash64(col("t")))
        .collect().map(_.getLong(0))
      val counts = Array.fill(64)(0)
      for (h <- hs; b <- 0 until 64)
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
      val expected = (0 until 64).map(b => if (counts(b) > 0) 1L << b else 0L)
        .foldLeft(0L)(_ | _)
      assert(base == expected, s"seed=$i: SQL xxhash64 cross-check")
    }
  }

  test("property: connected components equal a union-find reference on random graphs") {
    import spark.implicits._
    val genEdges: Gen[List[(Long, Long)]] = for {
      nNodes <- Gen.chooseNum(2, 40)
      nEdges <- Gen.chooseNum(0, 60)
      es <- Gen.listOfN(nEdges, for {
        u <- Gen.chooseNum(0L, nNodes.toLong - 1)
        v <- Gen.chooseNum(0L, nNodes.toLong - 1)
      } yield (u, v))
    } yield es.filter(e => e._1 != e._2)
    for (i <- 1L to 15L) {
      val edges = genEdges.apply(Gen.Parameters.default, Seed(i)).getOrElse(Nil)
      // driver-side union-find reference
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        r
      }
      for ((u, v) <- edges) {
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      val want = nodes.map(n => n -> find(n)).filter(p => p._1 != p._2).toMap
      val got = graft.operators.DedupOps.ccRoots(edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed=$i: cc vs union-find over ${edges.size} edges")
    }
  }

  test("property: sequence packing equals the sequential greedy reference") {
    import spark.implicits._
    val genDocs: Gen[List[(Long, Int, String)]] = for {
      n <- Gen.chooseNum(1, 60)
      rows <- Gen.listOfN(n, for {
        id <- Gen.chooseNum(0L, 500L)
        nTok <- Gen.chooseNum(1, 120)
        src <- Gen.oneOf("a", "b", "c")
      } yield (id, nTok, src))
    } yield rows.distinctBy(_._1)
    for (i <- 1L to 8L) {
      val rows = genDocs.apply(Gen.Parameters.default, Seed(i))
        .getOrElse(List((0L, 1, "a")))
      val dir = java.nio.file.Files.createTempDirectory(s"graft-pack-$i-").toString
      rows.map { case (id, nTok, src) =>
        val text = (1 to nTok).map(k => s"t$k").mkString(" ")
        (id, text, "en", src, text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      // sequential greedy reference: walk each shard in doc_id order,
      // bin = exclusive running token count DIV 256
      val want = rows.groupBy(_._3).toSeq.flatMap { case (src, ds) =>
        var cum = 0L
        ds.sortBy(_._1).map { case (_, nTok, _) =>
          val bin = cum / 256
          cum += nTok
          ((src, bin), (1L, nTok.toLong))
        }
      }.groupBy(_._1).map { case (k, vs) =>
        k -> (vs.map(_._2._1).sum, vs.map(_._2._2).sum)
      }
      val got = SparkEntry.queries("pipeline_pack_sequences")(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(got == want, s"seed=$i over ${rows.size} docs")
    }
  }

  test("property: banded interval join equals the naive range join") {
    import spark.implicits._
    // random event tables: ids unique, minute-grain offsets inside 2 days,
    // ~1/4 errors so incidents form and break across the 30-min gap
    val genEv: Gen[List[(Long, Long, String)]] = for {
      n <- Gen.chooseNum(5, 150)
      rows <- Gen.listOfN(n, for {
        off <- Gen.chooseNum(0L, 2L * 24 * 3600)
        typ <- Gen.frequency(1 -> Gen.const("error"), 3 -> Gen.const("click"))
      } yield (off, typ))
    } yield rows.zipWithIndex.map { case ((off, t), k) => (k.toLong, off, t) }
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    for (i <- 1L to 10L) {
      val rows = genEv.apply(Gen.Parameters.default, Seed(i))
        .getOrElse(List((0L, 0L, "error")))
      val dir = java.nio.file.Files.createTempDirectory(s"graft-band-$i-").toString
      rows.map { case (id, off, typ) =>
        // ts stored as parquet int64 NANOS, the events-table layout
        (id, (base + off * 1000L) * 1000000L, id % 7, typ, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      // sequential reference: per-day 30-min error islands, then a naive
      // containment scan of every event against every incident
      val ms = rows.map { case (id, off, t) => (id, base + off * 1000L, t) }
      val dayOf = (t: Long) => java.time.Instant.ofEpochMilli(t)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate
      val incidents = ms.filter(_._3 == "error")
        .groupBy(e => dayOf(e._2)).toSeq.flatMap { case (day, es) =>
          var n = 0L
          var prev = Long.MinValue
          val buf = scala.collection.mutable.ListBuffer.empty[(Any, Long, Long, Long)]
          es.sortBy(e => (e._2, e._1)).foreach { case (_, t, _) =>
            if (prev == Long.MinValue || t > prev + 30L * 60 * 1000) {
              n += 1; buf += ((day, n, t, t))
            } else {
              val last = buf.remove(buf.size - 1)
              buf += ((last._1, last._2, last._3, t))
            }
            prev = t
          }
          buf.toSeq
        }
      val want = (for {
        (id, t, _) <- ms
        (day, n, s0, s1) <- incidents
        if t >= s0 && t <= s1
      } yield (id, day.toString, n)).toSet
      val got = SparkEntry.queries("join_interval_bucketed")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
        .toSet
      assert(got == want, s"seed=$i: ${got.size} vs ${want.size} pairs")
    }
  }

  test("property: weighted median equals the expanded brute-force median") {
    import spark.implicits._
    val genLi: Gen[List[(String, Double, Long)]] = for {
      n <- Gen.chooseNum(1, 80)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("A", "B")
        p <- Gen.chooseNum(1, 500)
        w <- Gen.chooseNum(1L, 9L)
      } yield (g, p.toDouble, w))
    } yield rows
    for (i <- 1L to 15L) {
      val rows = genLi.apply(Gen.Parameters.default, Seed(i))
        .getOrElse(List(("A", 1.0, 1L)))
      val dir = java.nio.file.Files.createTempDirectory(s"graft-wm-$i-").toString
      rows.map { case (g, p, w) => (g, p, w.toDouble) }
        .toDF("l_returnflag", "l_extendedprice", "l_quantity")
        .write.parquet(s"$dir/lineitem.parquet")
      // brute force: expand each row `w` times, pick the smallest value
      // whose doubled cumulative rank reaches the total
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val expanded = rs.flatMap { case (_, p, w) => Seq.fill(w.toInt)(p) }.sorted
        val tot = expanded.size
        g -> expanded.zipWithIndex
          .collectFirst { case (p, k) if 2 * (k + 1) >= tot => p }.get
      }
      val got = SparkEntry.queries("agg_weighted_median")(spark, dir)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      assert(got == want, s"seed=$i")
    }
  }

  test("property: plan-level AsOfJoin equals brute force for every direction") {
    import spark.implicits._
    import plans.AsOfJoin.{Backward, Forward, Nearest}
    type Row3 = (Long, Option[Long], Long) // (user_id, ts offset in s, id)
    // every (direction, tolerance) pair; with the 30-min coarse grid below
    // each tolerance is a whole number of steps, so the inclusive bound is hit
    val cases: Seq[(String, Option[Long])] = Seq(
      (Backward, None), (Forward, None), (Nearest, None),
      (Backward, Some(2L * 3600)), (Forward, Some(2L * 3600)),
      (Nearest, Some(30L * 60)))
    // ~8% NULL ts on both sides; the coarse grid forces (key, ts) ties
    def genRows(n: Int, coarse: Boolean, id0: Long): Gen[List[Row3]] =
      Gen.listOfN(n, for {
        u <- Gen.chooseNum(0L, 5L)
        t <- if (coarse) Gen.chooseNum(0L, 20L).map(_ * 1800L)
             else Gen.chooseNum(0L, 36000L)
        ts <- Gen.frequency(1 -> Gen.const(None), 11 -> Gen.const(Some(t)))
      } yield (u, ts)).map(_.zipWithIndex.map { case ((u, ts), i) => (u, ts, id0 + i) })
    def genPair(coarse: Boolean): Gen[(List[Row3], List[Row3])] = for {
      np <- Gen.chooseNum(1, 40)
      nb <- Gen.chooseNum(0, 40)  // empty build side must also work
      probes <- genRows(np, coarse, 0L)
      builds <- genRows(nb, coarse, 1000L)
    } yield (probes, builds)
    val base = 1700000000L
    def bt(t: Long) = (base + t) * 1000L  // epoch ms of a ts offset
    def mk(rows: List[Row3], ts: String, id: String) =
      rows.map { case (u, t, i) => (u, t.map(x => new Timestamp(bt(x))), i) }
        .toDF("user_id", ts, id)

    /** The operator's documented rules (AsOfJoinExec): per key, build rows
      * order by (ts NULLS FIRST, id); backward takes the last row at or
      * before the probe in that order (a NULL build ts is before any
      * non-null probe ts and AT a NULL one), forward the first row at or
      * after it (for a NULL probe: the first row of the key), nearest the
      * backward one against the first row strictly after the probe. A
      * distance involving a NULL ts is NULL: it fails any tolerance, and in
      * a nearest tie-break it picks the forward row.
      */
    def brute(cands: List[Row3], pt: Option[Long], dir: String,
              tol: Option[Long]): Option[Row3] = {
      val ordered = cands.sortBy(c => (c._2.isDefined, c._2.getOrElse(0L), c._3))
      val back = ordered.filter(c => pt match {
        case Some(t) => c._2.forall(_ <= t)
        case None => c._2.isEmpty
      }).lastOption
      val fwd = if (dir == Forward) ordered.find(c => pt.forall(t => c._2.exists(_ >= t)))
                else ordered.find(c => c._2.exists(b => pt.forall(b > _)))
      def dist(c: Row3, isBack: Boolean): Option[Long] =
        for (t <- pt; b <- c._2) yield if (isBack) t - b else b - t
      def ok(c: Option[Row3], isBack: Boolean): Option[Row3] =
        c.filter(r => tol.forall(tl => dist(r, isBack).exists(_ <= tl)))
      (dir, ok(back, isBack = true), ok(fwd, isBack = false)) match {
        case (Backward, b, _) => b
        case (Forward, _, f) => f
        case (_, Some(b), Some(f)) =>
          if ((dist(b, true) zip dist(f, false)).exists { case (x, y) => x <= y }) Some(b)
          else Some(f)
        case (_, b, f) => b.orElse(f)
      }
    }

    for (i <- trials; coarse <- Seq(false, true)) {
      val (p, b) = genPair(coarse)(Gen.Parameters.default, Seed(i))
        .getOrElse((List((0L, Some(0L), 0L)), Nil))
      val probe = mk(p, "ts", "p_id")
      val build = mk(b, "b_ts", "b_id")
      val bByUser = b.groupBy(_._1)
      for ((dir, tol) <- cases) {
        val got = operators.AsOf.join(probe, build, "user_id", "ts", "b_ts", "b_id",
            direction = dir, toleranceMicros = tol.map(_ * 1000000L))
          .collect()
          .map(r => r.getLong(2) ->
            (Option(r.getTimestamp(3)).map(_.getTime),
              if (r.isNullAt(4)) None else Some(r.getLong(4))))
          .toMap
        val ctx = s"seed=$i coarse=$coarse direction=$dir tolerance=$tol"
        assert(got.size == p.size, s"$ctx left-join shape")
        for ((u, t, id) <- p) {
          val want = brute(bByUser.getOrElse(u, Nil), t, dir, tol)
          assert(got(id) == ((want.flatMap(_._2).map(bt), want.map(_._3))),
            s"$ctx probe $id (user $u, ts $t)")
        }
      }
    }
  }

  test("property: plan-level banded range join equals the naive BETWEEN join at any band width") {
    import spark.implicits._
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def tsOf(offSec: Long): Timestamp = new Timestamp(base + offSec * 1000L)
    for (i <- 1 to 8) {
      val rnd = new scala.util.Random(i)
      val points = (0 until 30 + rnd.nextInt(120))
        .map(k => (k.toLong, tsOf(rnd.nextInt(2 * 24 * 3600).toLong)))
        .toDF("p_id", "ts")
      val intervals = (0 until 5 + rnd.nextInt(30)).map { k =>
        val lo = rnd.nextInt(2 * 24 * 3600).toLong
        // some negative lengths -> degenerate intervals the node must drop
        val len = rnd.nextInt(6 * 3600).toLong - 1800L
        (k.toLong, tsOf(lo), tsOf(lo + len))
      }.toDF("iv_id", "lo", "hi")
      // band width is semantics-free: exercise three decades of it
      val band = Seq(60L, 3600L, 86400L)(rnd.nextInt(3)) * 1000000L
      val viaPlan = graft.operators.RangeJoin
        .join(points, intervals, "ts", "lo", "hi", band)
        .select("p_id", "iv_id").orderBy("p_id", "iv_id")
        .collect().map(_.toSeq).toSeq
      val naive = points
        .join(intervals, col("ts") >= col("lo") && col("ts") <= col("hi"))
        .select("p_id", "iv_id").orderBy("p_id", "iv_id")
        .collect().map(_.toSeq).toSeq
      assert(viaPlan == naive, s"seed=$i band=$band")
    }
  }
}
