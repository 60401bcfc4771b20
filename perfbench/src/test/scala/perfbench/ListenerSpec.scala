package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-job totals kept independently of [[SpanListener]]: every task is
  * charged to the job whose stage ran it. */
private class JobTotals extends SparkListener {
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val jobTag = new ConcurrentHashMap[Int, String]()
  val tasks = new ConcurrentHashMap[Int, Long]()
  val cpu = new ConcurrentHashMap[Int, Long]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobTag.put(e.jobId, Option(e.properties.getProperty(SpanListener.Key))
      .getOrElse(SpanListener.Untagged))
    e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    tasks.merge(j, 1L, (a: Long, b: Long) => a + b)
    cpu.merge(j, e.taskMetrics.executorCpuTime, (a: Long, b: Long) => a + b)
  }
}

class ListenerSpec extends AnyFunSuite {
  test("span attribution sums to the job totals on a tiny input") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
      .getOrCreate()
    try {
      val sc = spark.sparkContext
      sc.setLogLevel("WARN")
      val spans = new SpanListener
      val jobs = new JobTotals
      sc.addSparkListener(spans)
      sc.addSparkListener(jobs)
      val t = new Tracer(sc, on = true)
      val df = spark.range(0, 20000, 1, 4).withColumn("k", col("id") % 7)
      val agg = t.force("a")(df.groupBy("k").agg(sum("id").as("s")))
      t.span("b") {
        agg.join(df, "k").count()
        t.span("c")(spark.range(100).collect())
      }
      spark.range(10).count() // untagged
      val got = spans.snapshot(sc)

      assert(got.keySet == Set("a", "b", "c", SpanListener.Untagged))
      assert(got.values.forall(_.jobs >= 1))
      val byTag = jobs.jobTag.asScala.groupBy(_._2).map { case (tag, js) =>
        tag -> (js.keys.toSeq.map(j => jobs.tasks.getOrDefault(j, 0L)).sum,
          js.keys.toSeq.map(j => jobs.cpu.getOrDefault(j, 0L)).sum, js.size.toLong)
      }
      got.foreach { case (tag, w) =>
        assert((w.tasks, w.cpuNs, w.jobs) == byTag(tag), tag)
      }
      val total = spans.total(sc)
      assert(total.tasks == jobs.tasks.values.asScala.map(_.toLong).sum)
      assert(total.jobs == jobs.jobTag.size)
      assert(got("a").shuffleBytes > 0 && total.cpuNs > 0)
      assert(t.spans.map(s => s.name -> s.parent) ==
        Seq("a" -> "", "c" -> "b", "b" -> ""))
    } finally spark.stop()
  }
}
