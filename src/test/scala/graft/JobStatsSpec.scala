package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.obs.JobStats

/** The engine's one job-stats listener and its bus drain. */
class JobStatsSpec extends SparkSpec {

  test("JobStats.during: a 4-partition count is 1 job, 1 stage and 4 tasks") {
    val (n, stats) = JobStats.during(spark)(spark.sparkContext.parallelize(1 to 8, 4).count())
    assert(n == 8)
    assert(stats.jobs.size == 1, s"jobs: ${stats.jobs}")
    assert(stats.stages.size == 1, s"stages: ${stats.stages}")
    assert(stats.stages.head.tasks == 4)
    assert(stats.stages.head.maxMs <= stats.stages.head.sumMs)
    assert(stats.executions.isEmpty, "an RDD action runs under no SQL execution")
  }

  test("src/main drains the listener bus without sleeping; listeners live in graft.obs") {
    def sources(dir: String): Vector[Path] = {
      val s = Files.walk(Paths.get(dir))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector finally s.close()
    }
    val main = sources("src/main")
    assert(main.nonEmpty, "main sources not found")
    val obs = Paths.get("src/main/scala/graft/obs")
    val offenders = for {
      f <- main
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      word <- Seq("Thread.sleep", "addSparkListener") if line.contains(word)
      if word == "Thread.sleep" || !f.startsWith(obs)
    } yield s"$f:${i + 1}: $word"
    assert(offenders.isEmpty,
      "collect job stats through graft.obs.JobStats: " + offenders.mkString(", "))
  }
}
