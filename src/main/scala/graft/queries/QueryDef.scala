package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verified engine capability: a Spark query over the test tables and,
  * when SQL-expressible, an equivalent DuckDB oracle query. Column names and
  * row ordering must match between the two (the harness hash-compares). */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryModule {
  def defs: Map[String, QueryDef]
}

/** Session-scoped memo on a (session, key) pair — the ONE mechanism for
  * per-session state. Keyed WEAKLY by the session object (an
  * identity-hash key would both pin a session forever and risk serving
  * another session's entry on a hash collision), with stopped-session
  * eviction on every touch. Values are STRONG: for a persisted frame the
  * memo handle is the only handle (UDAF-bearing plans are never
  * `sameResult` across builds, so a rebuild would register a second
  * copy of the cells while an orphaned first one could never be
  * unpersisted).
  *
  * What that bounds — and what it does not: a memoized DataFrame holds
  * its session strongly, so the weak key only clears once the memo
  * forgets the entry, and the stopped-session eviction only fires when
  * the session's SparkContext stops. `spark.newSession()` siblings share
  * one SparkContext that never stops, so a process that opens a fresh
  * sibling per unit of work keeps every such session, and its memoized
  * frames, reachable until [[SessionMemo.reset]] is called for it.
  *
  * Every memo registers itself with the companion at construction, so
  * [[SessionMemo.reset]] releases all of a session's state in one call. */
private[graft] final class SessionMemo[V] {
  /** Build-once cell: TrieMap.getOrElseUpdate may evaluate its default in
    * TWO racing first callers (only one insertion wins, but both builds
    * run) — for a memo whose build materializes a localCheckpoint that
    * means a duplicate checkpoint whose orphaned blocks stay pinned until
    * session end. Racing callers may construct two Holders (cheap), but
    * both receive the WINNING one and force its single build. */
  private final class Holder(build: () => V) {
    @volatile private var built: Option[V] = None
    def value: V = built.getOrElse(synchronized {
      if (built.isEmpty) built = Some(build())
      built.get
    })
    def peek: Option[V] = built
  }

  private val cache = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[String, Holder]]()

  SessionMemo.registry.add(this)

  private def entries(s: SparkSession) =
    cache.synchronized(Option(cache.get(s)))

  def getOrElseUpdate(s: SparkSession, key: String)(build: => V): V = {
    val per = cache.synchronized {
      val it = cache.entrySet().iterator()
      while (it.hasNext) {
        val k = it.next().getKey
        if (k != null && k.sparkContext.isStopped) it.remove()
      }
      cache.computeIfAbsent(s,
        _ => scala.collection.concurrent.TrieMap.empty[String, Holder])
    }
    per.getOrElseUpdate(key, new Holder(() => build)).value
  }

  /** The built value for (s, key), if any — never builds. */
  def peek(s: SparkSession, key: String): Option[V] =
    entries(s).flatMap(_.get(key)).flatMap(_.peek)

  private def built(s: SparkSession): Seq[V] =
    entries(s).toSeq.flatMap(_.values.flatMap(_.peek))

  private def forget(s: SparkSession): Unit = entries(s).foreach(_.clear())
}

private[graft] object SessionMemo {
  private val registry =
    new java.util.concurrent.ConcurrentLinkedQueue[SessionMemo[_]]()

  /** Every value any memo holds for `s` (built entries only). */
  private[graft] def live(s: SparkSession): Seq[Any] = {
    import scala.jdk.CollectionConverters._
    registry.asScala.toSeq.flatMap(_.built(s))
  }

  /** Release a memoized value: a persisted frame is unpersisted, a
    * broadcast destroyed, a landed temp dir deleted, and a tuple
    * releases each of its parts. */
  private def release(v: Any): Unit = v match {
    case df: org.apache.spark.sql.Dataset[_] => df.unpersist(blocking = false)
    case b: org.apache.spark.broadcast.Broadcast[_] => b.destroy()
    case p: java.nio.file.Path => graft.TempDirs.deleteRec(p.toString)
    case t: Product => t.productIterator.foreach(release)
    case _ => ()
  }

  /** Drop ALL of `s`'s session state, in this order: the session's
    * blocks and cached plans (a truncated-lineage checkpoint whose blocks
    * are gone cannot be recomputed, and a cached-plan entry would shadow
    * a memo's re-persist), then every memoized value, then the memo
    * entries themselves — so the next consumer rebuilds instead of
    * serving a dead frame — and finally a GC, which lets the
    * ContextCleaner reap the now-unreferenced broadcast and shuffle
    * blocks that unpersist cannot touch. */
  def reset(s: SparkSession): Unit = {
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    s.sharedState.cacheManager.clearCache()
    live(s).foreach(release)
    registry.forEach(_.forget(s))
    System.gc()
  }
}

/** Golden-fixture oracles for queries whose kernels are not reasonably
  * SQL-expressible (cubic spline, gammat bisection, the EAPE aggregation).
  *
  * The engine's numeric SEMANTICS for these are validated by analytic
  * oracles in the ScalaTest suite (ArgoPipelineSpec's smooth-field
  * reproduction, InterpSpec/Teos10Spec check values); the fixture makes the
  * result additionally verifiable by the driver's DuckDB gate: every
  * contributing kernel is deterministic per-row and every aggregation is
  * fixed-point (partition-invariant), so a re-run must be bit-identical to
  * the committed parquet, under any parallelism. Fixtures are produced by
  * `graft.tools.MakeFixtures` for each testdata scale factor; the SQL
  * selects the right one by probing the customer table's row count. */
object FixtureOracle {
  /** (sf directory name, customer row count) for each generated scale. */
  val Scales: Seq[(String, Long)] =
    Seq(("sf0.001", 150L), ("sf0.01", 1500L), ("sf0.1", 15000L))

  /** Fixture location; override with -Dgraft.fixtures.dir for checkouts
    * living elsewhere (the SQL bakes the path at Verify time, so the
    * property must be set on the JVM that runs Verify). */
  val Root: String =
    sys.props.getOrElse("graft.fixtures.dir", "/root/repo/fixtures")

  def sql(name: String): String =
    Scales.map { case (sf, nCust) =>
      s"""SELECT * FROM read_parquet('$Root/$sf/$name.parquet/*.parquet')
         |WHERE (SELECT count(*) FROM customer) = $nCust""".stripMargin
    }.mkString("\nUNION ALL\n")
}
