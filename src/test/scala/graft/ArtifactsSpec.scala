package graft

import graft.util.Artifacts
import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The artifact store every query module memoizes through: a regenerated
  * corpus rebuilds, stale entries of the same (dir, tables) are evicted
  * with their scratch dirs, variants of one corpus coexist, concurrent
  * callers share one build, and a failed build leaves nothing behind.
  */
class ArtifactsSpec extends AnyFunSuite {

  // store-owned, so JVM exit deletes the test corpora too
  private def corpus(): String = Artifacts.scratch("graft_art")

  private def write(dir: String, table: String, content: String): Unit = {
    val t = Paths.get(dir, s"$table.parquet")
    Files.createDirectories(t)
    Files.write(t.resolve("part-00000"), content.getBytes("UTF-8"))
  }

  private val docs = Seq("documents")

  test("a regenerated corpus rebuilds and evicts the stale entry") {
    val dir = corpus()
    write(dir, "documents", "v1 corpus")
    var builds = 0
    def get(): String =
      Artifacts.memo("model", dir, docs) { _ => builds += 1; s"artifact$builds" }
    assert(get() == "artifact1")
    assert(get() == "artifact1", "an unchanged corpus must serve the memo")
    assert(builds == 1)
    // regenerate under the SAME path (a different byte size changes the
    // fingerprint even within one mtime granule)
    write(dir, "documents", "v2 corpus — regenerated, deliberately longer")
    assert(get() == "artifact2", "regeneration must invalidate the memo")
    assert(builds == 2 && Artifacts.names(dir) == Set("model"))
  }

  test("an evicted entry's scratch dir is deleted from disk") {
    val dir = corpus()
    write(dir, "documents", "v1")
    def stage(): String = Artifacts.memo("staged", dir, docs) { sc =>
      val t = sc.dir("graft_art_stage")
      Files.write(Paths.get(t, "data"), "x".getBytes("UTF-8"))
      t
    }
    val first = stage()
    assert(new File(first, "data").exists())
    write(dir, "documents", "v2 longer")
    val second = stage()
    assert(second != first)
    assert(!new File(first).exists(), "the evicted scratch dir must be deleted")
    assert(new File(second, "data").exists())
  }

  test("parameter variants of one corpus coexist") {
    val dir = corpus()
    write(dir, "documents", "v1")
    var (a, b) = (0, 0)
    def getA() = Artifacts.memo("bpe.r6", dir, docs) { _ => a += 1; s"a$a" }
    def getB() = Artifacts.memo("bpe.r8", dir, docs) { _ => b += 1; s"b$b" }
    assert(getA() == "a1" && getB() == "b1")
    assert(getA() == "a1" && getB() == "b1", "neither miss may evict the other")
    assert(Artifacts.names(dir) == Set("bpe.r6", "bpe.r8"))
  }

  test("a regeneration sweeps the stale variants on the next miss") {
    val dir = corpus()
    write(dir, "documents", "v1")
    val staged = Seq("r6", "r8").map(n =>
      Artifacts.memo(n, dir, docs)(sc => sc.dir("graft_art_variant")))
    write(dir, "documents", "v2 longer")
    assert(Artifacts.memo("r6", dir, docs)(_ => "fresh") == "fresh")
    assert(Artifacts.names(dir) == Set("r6"),
      "a miss after regeneration must sweep every stale variant")
    assert(staged.forall(d => !new File(d).exists()))
  }

  test("a stale fingerprint that is a textual prefix of the new is evicted") {
    val dir = corpus()
    write(dir, "documents", "v1 corpus")
    val f = new File(s"$dir/documents.parquet/part-00000")
    assert(f.setLastModified(1230000L))
    var builds = 0
    def get(): String = Artifacts.memo("m", dir, docs) { _ => builds += 1; s"a$builds" }
    assert(get() == "a1")
    // same bytes and file count, mtime rewound to a textual prefix of the
    // old one (123000 vs 1230000): a string-prefix freshness test would
    // keep serving the stale entry
    assert(f.setLastModified(123000L))
    assert(get() == "a2" && builds == 2)
    assert(Artifacts.names(dir) == Set("m"))
  }

  test("8 racing callers of one key see one build and one scratch dir") {
    val dir = corpus()
    write(dir, "documents", "v1")
    val prefix = s"graft_art_race_${System.nanoTime}_"
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map(_ => pool.submit(() => {
        start.await()
        Artifacts.memo("race", dir, docs) { sc =>
          builds.incrementAndGet()
          Thread.sleep(200)
          sc.dir(prefix)
        }
      }))
      start.countDown()
      val got = results.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got.distinct.size == 1)
      val tmp = new File(System.getProperty("java.io.tmpdir"))
      assert(tmp.list().count(_.startsWith(prefix)) == 1)
    } finally pool.shutdownNow()
  }

  test("a build that throws leaves no entry and no dir, then rebuilds") {
    val dir = corpus()
    write(dir, "documents", "v1")
    var staged = ""
    val e = intercept[IllegalStateException] {
      Artifacts.memo("flaky", dir, docs) { sc =>
        staged = sc.dir("graft_art_fail")
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(staged.nonEmpty && !new File(staged).exists())
    assert(Artifacts.names(dir).isEmpty)
    var builds = 0
    assert(Artifacts.memo("flaky", dir, docs) { _ => builds += 1; "ok" } == "ok")
    assert(builds == 1 && Artifacts.names(dir) == Set("flaky"))
  }

  test("a miss on one table set keeps the entries of another in that dir") {
    val dir = corpus()
    write(dir, "documents", "docs v1")
    write(dir, "events", "events v1")
    var docBuilds = 0
    def getDocs() = Artifacts.memo("comp", dir, docs) { sc =>
      docBuilds += 1
      sc.dir("graft_art_docs")
    }
    val d = getDocs()
    // a first build over events, then one after events regenerate: both
    // are misses in the same dir, neither touches the documents entry
    Artifacts.memo("fold", dir, Seq("events"))(_ => "e1")
    write(dir, "events", "events v2, regenerated")
    assert(Artifacts.memo("fold", dir, Seq("events"))(_ => "e2") == "e2")
    assert(getDocs() == d && docBuilds == 1)
    assert(new File(d).exists())
    assert(Artifacts.names(dir) == Set("comp", "fold"))
  }

  test("no query module keeps a private memo map or makes its own temp dir") {
    val queries = new File("src/main/scala/graft/queries")
    val files = Option(queries.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, s"query sources not found under ${queries.getAbsolutePath}")
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f.toPath).toArray(Array.empty[String]).zipWithIndex
      word <- Seq("TrieMap", "createTempDirectory") if line.contains(word)
    } yield s"${f.getName}:${i + 1}: $word"
    assert(offenders.isEmpty,
      "memoize through graft.util.Artifacts instead: " + offenders.mkString(", "))
  }

  test("in src/main, only util/Artifacts.scala makes a temp dir") {
    import scala.jdk.CollectionConverters._
    val main = new File("src/main/scala")
    assert(main.isDirectory, s"main sources not found under ${main.getAbsolutePath}")
    val offenders = Files.walk(main.toPath).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith("graft/util/Artifacts.scala"))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("createTempDirectory") => s"$p:${i + 1}"
      })
    assert(offenders.isEmpty,
      "make scratch dirs through graft.util.Artifacts.scratch: " + offenders.mkString(", "))
  }
}
