package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One shared local SparkSession for the whole test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` under Spark job group `group` and returns its result
    * with the call site of every job that carried the group: its SQL
    * execution's description (e.g. `parquet at BucketedStateLog.scala:290`
    * for a state write), or, outside SQL, its result stage's name. Child
    * threads inherit the group, so refreshes run through
    * `MaintainerOps.inParallel` count too. Listener events arrive in
    * submission order, so once a marker job in a second group has been
    * seen, every job of the body has been seen.
    */
  def jobCallSites[T](group: String)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val drain = s"$group-drain"
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[String, String]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlSites.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        props.map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(props
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(id => Option(sqlSites.get(id)))
            .getOrElse(j.stageInfos.maxBy(_.stageId).name))
          case Some(`drain`) => drained.countDown()
          case _ =>
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      // no group description: SQL executions then take their call site
      sc.setJobGroup(group, null)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(drain, drain)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job")
      (out, scala.jdk.CollectionConverters.CollectionHasAsScala(jobs).asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
