package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement probe (optimization rounds): counts Spark jobs, stages,
  * tasks and summed task time across gate builds or queries (comma list),
  * with a per-action histogram — so wall time decomposes into scheduled
  * work vs per-job overhead. Warm pass at the small SF first, like Bench.
  */
object ProfileProbe {
  /** The frame builder a probe name stands for: `mv`/`mj`/`lake`, a
    * shared-cache prep (probe-addressable so k-means/codegen cost
    * decomposes; caches are released between the warm and measured pass),
    * or a registered query. An unknown name fails listing the valid ones.
    */
  def resolve(what: String): (SparkSession, String) => DataFrame = {
    import graft.operators.{LakeQueries, SharedCaches}
    val preps = SharedCaches.entries.toMap
    what match {
      case "mv" => LakeQueries.mvOrders
      case "mj" => LakeQueries.mjOrders
      case "lake" => LakeQueries.lakeState
      case p if preps.contains(p) => preps(p)
      case q => graft.SparkEntry.queries.getOrElse(q, throw new IllegalArgumentException(
        if (q.startsWith("prep_"))
          s"unknown prep '$q'; valid preps: ${SharedCaches.entries.map(_._1).mkString(", ")}"
        else s"unknown probe '$q'; use mv, mj, lake, a prep_* name or a SparkEntry query"))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val whats = (if (args.nonEmpty) args(0) else "mv").split(",").toSeq
    val spark = graft.LocalSession()
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val runs = whats.map(w => w -> resolve(w)).toMap // unknown names fail before any work
    def run(what: String, dir: String): Unit =
      runs(what)(spark, dir).write.format("noop").mode("overwrite").save()
    // warm pass (JIT/codegen/classloading), like the bench's
    whats.foreach(run(_, warmDir))
    graft.operators.SharedCaches.releaseAll(spark)
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val sites = new java.util.concurrent.ConcurrentHashMap[String, (AtomicInteger, AtomicLong)]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val site = j.stageInfos.lastOption.map(_.name.takeWhile(_ != '+')).getOrElse("?")
        jobStart.put(j.jobId, (site, System.nanoTime()))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(j.jobId)).foreach { case (site, t0) =>
          val e = sites.computeIfAbsent(site, _ => (new AtomicInteger, new AtomicLong))
          e._1.incrementAndGet()
          e._2.addAndGet(System.nanoTime() - t0)
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })
    val acts = new java.util.concurrent.ConcurrentHashMap[String, (AtomicInteger, AtomicLong)]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      private def record(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val site = Thread.currentThread.getStackTrace
          .find(e => e.getClassName.startsWith("graft.") &&
            !e.getClassName.contains("ProfileProbe"))
          .map(e => s"${e.getFileName}:${e.getLineNumber}").getOrElse("?")
        val e = acts.computeIfAbsent(s"$funcName@$site",
          _ => (new AtomicInteger, new AtomicLong))
        e._1.incrementAndGet()
        e._2.addAndGet(durationNs)
      }
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        record(funcName, qe, durationNs)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    })
    import scala.jdk.CollectionConverters._
    whats.foreach { what =>
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
      sites.clear(); acts.clear()
      System.gc(); Thread.sleep(150)
      val t0 = System.nanoTime()
      run(what, sfDir)
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let listener drain
      println(f"PROBE $what wall=$wall%.2f s jobs=${jobs.get} stages=${stages.get} " +
        f"tasks=${tasks.get} taskTime=${taskMs.get / 1000.0}%.2f s " +
        f"(task-parallel floor over ${graft.LocalSession.cpus} cpus: " +
        f"${taskMs.get / 1000.0 / graft.LocalSession.cpus}%.2f s)")
      sites.asScala.toSeq.sortBy(-_._2._2.get).take(8).foreach { case (site, (n, ns)) =>
        println(f"SITE ${ns.get / 1e9}%8.2f s  n=${n.get}%4d  $site")
      }
      acts.asScala.toSeq.sortBy(-_._2._2.get).take(8).foreach { case (site, (n, ns)) =>
        println(f"ACT ${ns.get / 1e9}%8.2f s  n=${n.get}%4d  $site")
      }
    }
    spark.stop()
  }
}
