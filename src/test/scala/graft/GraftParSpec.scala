package graft.io

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[GraftPar.all]]'s contract: task order, the caller's job group
  * reaching every task's jobs (so cancelling it stops them), wait-all
  * failure semantics, and that it stays the ONLY concurrent-submission
  * mechanism in the main source.
  */
class GraftParSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  /** Records (marker local property → job group) of every job started
    * while `body` runs; listener events arrive asynchronously, so
    * `awaitJobs` polls (bounded) until `n` marked jobs are seen.
    */
  private class GroupRecorder extends SparkListener {
    val groups = new ConcurrentHashMap[String, String]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val p = j.properties
      if (p != null && p.getProperty(Marker) != null)
        groups.put(p.getProperty(Marker),
          Option(p.getProperty("spark.jobGroup.id")).getOrElse("<none>"))
    }
    def awaitJobs(n: Int): Map[String, String] = {
      val deadline = System.currentTimeMillis() + 30000
      while (groups.size < n && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      groups.asScala.toMap
    }
  }
  private val Marker = "graft.parspec.task"

  private def withRecorder[A](body: GroupRecorder => A): A = {
    val r = new GroupRecorder
    spark.sparkContext.addSparkListener(r)
    try body(r)
    finally {
      spark.sparkContext.removeSparkListener(r)
      spark.sparkContext.clearJobGroup()
    }
  }

  test("results come back in task order; no tasks, no pool") {
    // later tasks finish first, so completion order is the reverse
    val out = GraftPar.all((0 until 12).map { i => () =>
      Thread.sleep(5L * (12 - i)); i * i
    })
    assert(out == (0 until 12).map(i => i * i))
    assert(GraftPar.all(Seq.empty[() => Int]) == Nil)
  }

  test("the caller's job group reaches every task's Spark job") {
    withRecorder { rec =>
      spark.sparkContext.setJobGroup("graft-par-group", "parspec")
      GraftPar.all((0 until 10).map { i => () =>
        spark.sparkContext.setLocalProperty(Marker, s"g$i")
        spark.range(0, 100, 1, 2).count()
      })
      val seen = rec.awaitJobs(10)
      assert(seen.keySet == (0 until 10).map(i => s"g$i").toSet)
      assert(seen.values.toSet == Set("graft-par-group"),
        s"every task's job must carry the caller's group: $seen")
    }
  }

  test("cancelling the caller's job group stops a running call") {
    withRecorder { rec =>
      spark.sparkContext.setJobGroup("graft-par-cancel", "parspec",
        interruptOnCancel = true)
      val canceller = new Thread(() => {
        rec.awaitJobs(2)
        spark.sparkContext.cancelJobGroup("graft-par-cancel")
      })
      canceller.start()
      val t0 = System.nanoTime()
      val e = intercept[Exception] {
        GraftPar.all((0 until 2).map { i => () =>
          spark.sparkContext.setLocalProperty(Marker, s"c$i")
          // a job that would run ~60 s unless cancelled
          spark.sparkContext.parallelize(Seq(i), 1)
            .map { x => Thread.sleep(60000); x }.count()
        })
      }
      canceller.join()
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 45, s"cancel must stop the call, took $secs s")
      assert(String.valueOf(e.getMessage).contains("cancel"), e.toString)
    }
  }

  test("failure: first in task order rethrows after every task settles") {
    val done = (0 until 4).map(_ => new AtomicBoolean(false))
    val first = new IllegalStateException("task 1")
    val second = new IllegalArgumentException("task 2")
    val e = intercept[Exception] {
      GraftPar.all(Seq[() => Unit](
        () => { Thread.sleep(300); done(0).set(true) },
        () => throw first,
        () => { Thread.sleep(100); done(2).set(true); throw second },
        () => { Thread.sleep(600); done(3).set(true) }))
    }
    assert(e eq first, "the first failure in task order rethrows")
    assert(e.getSuppressed.toSeq == Seq(second),
      "later failures ride along as suppressed")
    assert(Seq(0, 2, 3).forall(done(_).get),
      "every sibling settles before the rethrow")
  }

  test("GraftPar is the only concurrent-submission mechanism in main") {
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory, s"run from the project root: $main")
    val banned = "ExecutionContext|newFixedThreadPool|Duration\\.Inf".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val offenders = files(main)
      .filterNot(_.getPath.endsWith("graft/io/GraftPar.scala"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex
          .filter { case (l, _) => banned.findFirstIn(l).isDefined }
          .map { case (l, i) => s"${f.getPath}:${i + 1}: ${l.trim}" }
          .toList
        finally src.close()
      }
    assert(offenders.isEmpty,
      "submit concurrent driver work through GraftPar.all:\n" +
        offenders.mkString("\n"))
  }
}
