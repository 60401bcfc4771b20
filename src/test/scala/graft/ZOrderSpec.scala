package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ZOrderExpr
import graft.sources.Layout

/** The Morton code and the Z-order layout rewrite: interleave
  * correctness against a bit-by-bit reference, the quadrant-prefix
  * property that makes sorting by the code a spatial clustering, q129
  * end-to-end sanity, and the claim that earns the operator its place —
  * a second-dimension predicate over a z-clustered layout scans a small
  * fraction of the rows a linear layout scans (row-group pruning off
  * stock parquet min/max stats, no reader-side curve knowledge). */
class ZOrderSpec extends SparkSuite {

  // bit-by-bit reference: bit i of x lands at position 2i, y at 2i+1
  private def naive(x: Int, y: Int): Long = {
    var z = 0L
    var i = 0
    while (i < 31) {
      z |= ((x.toLong >> i) & 1L) << (2 * i)
      z |= ((y.toLong >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("interleave matches the bit-by-bit reference") {
    val probes = Seq(0, 1, 2, 3, 7, 255, 256, 65535, 65536,
      0x12345678, 0x7FFFFFFF)
    for (x <- probes; y <- probes)
      assert(ZOrderExpr.interleave(x, y) == naive(x, y), s"($x, $y)")
  }

  test("quadrant prefix: the top bits of the code are the top bits of (x, y)") {
    // any two points in the same 2^k × 2^k cell share the code prefix
    // above bit 2k — THE property that makes a contiguous code range a
    // small rectangle
    val k = 8
    val pts = Seq((3, 5), (200, 77), (1000, 1000), (65535, 1))
    pts.foreach { case (x, y) =>
      val base = ZOrderExpr.interleave(x & ~((1 << k) - 1), y & ~((1 << k) - 1))
      val z = ZOrderExpr.interleave(x, y)
      assert((z >> (2 * k)) == (base >> (2 * k)), s"($x, $y)")
    }
  }

  private def naive3(x: Int, y: Int, z: Int): Long = {
    var c = 0L
    var i = 0
    while (i < 21) {
      c |= ((x.toLong >> i) & 1L) << (3 * i)
      c |= ((y.toLong >> i) & 1L) << (3 * i + 1)
      c |= ((z.toLong >> i) & 1L) << (3 * i + 2)
      i += 1
    }
    c
  }

  test("3-D interleave matches the bit-by-bit reference") {
    val probes = Seq(0, 1, 5, 255, 4096, 0x1FFFFF, 0x155555)
    for (x <- probes; y <- probes; z <- probes)
      assert(ZOrderExpr.interleave3(x, y, z) == naive3(x, y, z), s"($x,$y,$z)")
  }

  test("a z-only predicate prunes a 3-D z-clustered layout") {
    val n = 100000
    val df = spark.range(n.toLong)
      .select(col("id"),
        (col("id") * 48271L % 100003L % 256L).cast("int").as("x"),
        (col("id") * 40503L % 99991L % 256L).cast("int").as("y"),
        (col("id") * 16807L % 99989L % 256L).cast("int").as("z"))
    val dir = graft.TempDirs.create("graft-zorder3").resolve("t").toString
    Layout.writeZOrdered(df,
      ZOrderExpr.zorder3(col("x"), col("y"), col("z")),
      dir, partitions = 8, maxRecordsPerFile = 2048)
    val pred = col("z") >= 100 && col("z") < 110 // ~4%, x/y-blind
    val zc = spark.read.parquet(dir).filter(pred)
    val scanned = scannedRows(zc)
    assert(zc.count() > 0)
    assert(scanned * 2 < n,
      s"3-D z layout pruned too little: scanned $scanned of $n")
  }

  test("codes are non-negative and inputs masked to 31 bits") {
    assert(ZOrderExpr.interleave(-1, -1) ==
      ZOrderExpr.interleave(0x7FFFFFFF, 0x7FFFFFFF))
    assert(ZOrderExpr.interleave(0x7FFFFFFF, 0x7FFFFFFF) > 0)
  }

  /** Rows the scan emitted (post row-group pruning, pre residual
    * filter): the leaf scan metric after running the plan. */
  private def scannedRows(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
  }

  test("a y-only predicate prunes z-clustered files, not linear ones") {
    import spark.implicits._
    // 200k points, ~uniform and independent in both dims (MINSTD mixes)
    val n = 200000
    val df = spark.range(n.toLong)
      .select(col("id"),
        (col("id") * 48271L % 100003L % 1000L).cast("int").as("x"),
        (col("id") * 40503L % 99991L % 1000L).cast("int").as("y"))
    val tmp = graft.TempDirs.create("graft-zorder-spec")
    val zDir = tmp.resolve("z").toString
    val linDir = tmp.resolve("lin").toString
    Layout.writeZOrdered(df, ZOrderExpr.zorder2(col("x"), col("y")),
      zDir, partitions = 8, maxRecordsPerFile = 4096)
    // linear layout: clustered by x alone (the classic single-column sort)
    df.repartitionByRange(8, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").option("maxRecordsPerFile", 4096)
      .parquet(linDir)
    val pred = col("y") >= 100 && col("y") < 120 // 2%, x-blind
    val zRows = scannedRows(spark.read.parquet(zDir).filter(pred))
    val linRows = scannedRows(spark.read.parquet(linDir).filter(pred))
    val zHits = spark.read.parquet(zDir).filter(pred).count()
    val linHits = spark.read.parquet(linDir).filter(pred).count()
    assert(zHits == linHits, "layout changed the answer")
    // the linear layout cannot prune an x-blind predicate at all; the
    // z-clustered one reads only files whose y-rectangle intersects the
    // slab. Measured ~0.2 vs 1.0 here; assert a conservative factor 2.
    assert(linRows >= (n * 9) / 10, s"linear layout unexpectedly pruned: $linRows")
    assert(zRows * 2 < linRows,
      s"z-order pruned too little: scanned $zRows vs linear $linRows")
  }

  test("the same frame z-written twice lands the same files with the same min/max") {
    // ~3 rows per code, so ties are common, and more rows than a range
    // sample holds: a seeded sample or an arbitrary tie order would move
    // file boundaries, and with them the statistics pruning reads
    val df = spark.range(50000L)
      .select(col("id"),
        (col("id") * 48271L % 100003L % 128L).cast("int").as("x"),
        (col("id") * 40503L % 99991L % 128L).cast("int").as("y"))
    val tmp = graft.TempDirs.create("graft-zorder-repeat")
    // per file (task index, file index within the task): each column's
    // min and max, and the row count
    def stats(dir: String): Map[String, Seq[Long]] =
      spark.read.parquet(dir).groupBy(input_file_name().as("f"))
        .agg(min("id"), max("id"), min("x"), max("x"), min("y"), max("y"),
          count(lit(1)))
        .collect().map { r =>
          val m = "part-(\\d+)-.*-c(\\d+)".r.findFirstMatchIn(r.getString(0)).get
          s"${m.group(1)}-${m.group(2)}" -> (1 to 7).map(r.getAs[Number](_).longValue)
        }.toMap
    try {
      val runs = Seq("a", "b").map { sub =>
        val dir = tmp.resolve(sub).toString
        Layout.writeZOrdered(df, ZOrderExpr.zorder2(col("x"), col("y")), dir,
          partitions = 8, maxRecordsPerFile = 1024)
        stats(dir)
      }
      assert(runs.head.size >= 8, s"expected several files: ${runs.head.keys}")
      val moved = runs.head.keySet.union(runs(1).keySet)
        .filter(k => runs.head.get(k) != runs(1).get(k))
      assert(moved.isEmpty, s"${moved.size} files' statistics moved between two " +
        "writes, e.g. " + moved.toSeq.sorted.take(3)
          .map(k => s"$k ${runs.head.get(k)} vs ${runs(1).get(k)}").mkString("; "))
    } finally graft.TempDirs.deleteRec(tmp.toString)
  }

  test("q129 end-to-end: rectangle aggregate over the rewritten layout") {
    val rows = SparkEntry.queries("q129_zorder_scan")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum > 0, "empty rectangle")
  }

  test("events Z-store sync: frozen-curve append ≡ full re-land; idempotent; bounds recover") {
    import graft.queries.{RelationalQueries => RQ}
    val d = "/root/testdata/sf0.001"
    val want = SparkEntry.queries("q129_zorder_scan")(spark, d).collect().toSeq
    val tmp = graft.TempDirs.create("graft-ezappend")
    val store = tmp.resolve("ez").toString
    val isBatch = col("event_id") % 4 === 3
    // land the pre-batch corpus, then sync the batch: the live bounds
    // merge as min/max monoids, so the rectangle (derived from them)
    // equals the full table's and the answer is bit-equal
    RQ.landEventsZStore(spark, d, store, !isBatch)
    val batch = Tables.events(spark, d).filter(isBatch)
    RQ.appendEventsZStore(spark, batch, store)
    try {
      spark.conf.set("spark.graft.eventsZStore", s"$d=$store")
      assert(SparkEntry.queries("q129_zorder_scan")(spark, d)
        .collect().toSeq == want, "appended store differs from the re-land answer")
      // idempotence: a blind re-run of the same sync lands nothing
      val rows = spark.read.parquet(store).count()
      RQ.appendEventsZStore(spark, batch, store)
      assert(spark.read.parquet(store).count() == rows,
        "re-run double-appended the batch")
      // crash window: data landed, sidecar rewrite lost — restore a
      // STALE pre-append sidecar, then reconcile from the landed files
      val stale = Tables.events(spark, d).filter(!isBatch)
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
          max(col("user_id"))).head
      import spark.implicits._
      Seq((stale.getLong(0), stale.getLong(1), stale.getLong(2)))
        .toDF("mn", "mx", "umax")
        .coalesce(1).write.mode("overwrite").parquet(s"$store/_bounds")
      RQ.reconcileEventsZBounds(spark, store)
      assert(SparkEntry.queries("q129_zorder_scan")(spark, d)
        .collect().toSeq == want, "reconciled bounds did not restore the answer")
      // the WORST crash: _bounds destroyed mid-overwrite (the ADVICE r12
      // window — mode("overwrite") deletes before the new job commits).
      // The frozen curve lives in the write-once _curve sidecar no sync
      // touches, so recovery still restores the exact answer AND a later
      // sync still encodes with the original curve
      val curve = spark.read.parquet(s"$store/_curve").head
      graft.TempDirs.deleteRec(s"$store/_bounds")
      RQ.reconcileEventsZBounds(spark, store)
      assert(SparkEntry.queries("q129_zorder_scan")(spark, d)
        .collect().toSeq == want, "recovery from a destroyed _bounds failed")
      assert(spark.read.parquet(s"$store/_curve").head == curve,
        "recovery must never touch the frozen curve")
    } finally spark.conf.unset("spark.graft.eventsZStore")
  }

  test("q129 serves from the at-rest events Z-store; the corpusDir guard holds") {
    val d = "/root/testdata/sf0.001"
    val want = SparkEntry.queries("q129_zorder_scan")(spark, d).collect().toSeq
    val path = graft.TempDirs.create("graft-ezstore").resolve("ez").toString
    graft.queries.RelationalQueries.landEventsZStore(spark, d, path)
    try {
      spark.conf.set("spark.graft.eventsZStore", s"$d=$path")
      val df = SparkEntry.queries("q129_zorder_scan")(spark, d)
      assert(df.collect().toSeq == want,
        "q129 over the landed store differs from the session rewrite")
      // the store path must scan the LANDED layout (bounds off the
      // sidecar, no in-query rewrite): its leaf scans read `path`
      val leaves = df.queryExecution.executedPlan.collectLeaves().mkString("\n")
      assert(leaves.contains("ez"), s"store path did not scan the landing:\n$leaves")
      // a store landed for another corpus is never consulted
      spark.conf.set("spark.graft.eventsZStore", s"/not/this/corpus=$path")
      assert(SparkEntry.queries("q129_zorder_scan")(spark, d)
        .collect().toSeq == want, "guard fallback changed the answer")
    } finally spark.conf.unset("spark.graft.eventsZStore")
  }
}
