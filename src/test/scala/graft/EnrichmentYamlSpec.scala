package graft

import java.nio.file.{Files, Paths}

import graft.config.EnrichmentYaml
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Golden tests for the enrichment-table YAML surface: the REAL reference
  * configs (`example/enrichment/user_info`, the managed enrichment dirs)
  * drive config parsing, write-mode dispatch onto Snapshots, and
  * Enrichment.lookupJoin. The repo does not vendor those configs, so the
  * goldens that read them cancel where the reference checkout is absent;
  * the redirect-merge and write-mode tests build their own inputs.
  */
class EnrichmentYamlSpec extends SparkSpec {
  import spark.implicits._

  private val exampleDir = "/root/reference/example/enrichment"
  private val managedDir = "/root/reference/data/managed/enrichment"

  /** Cancels, rather than fails, a golden whose reference dir is absent. */
  private def assumeReference(dir: String): Unit =
    assume(Files.isDirectory(Paths.get(dir)), s"reference checkout absent: $dir")

  test("real user_info static config parses: schema, lookup keys, mode") {
    assumeReference(exampleDir)
    val c = EnrichmentYaml.loadDir(s"$exampleDir/user_info")
    assert(c.name == "user_info")
    assert(c.enrichmentType == "static")
    assert(c.writeMode == "overwrite") // static default
    assert(c.lookupKeys == Seq("user_id"))
    assert(c.resolvedName == "enrich_user_info")
    assert(c.customFields == StructType(Seq(
      StructField("name", StringType), StructField("user_id", StringType))))
    assert(c.schema.fieldNames.contains("user_id"))
  }

  test("real managed configs parse: write modes, primary keys, transform kept") {
    assumeReference(managedDir)
    val kev = EnrichmentYaml.loadDir(s"$managedDir/cisa_kev")
    assert(kev.enrichmentType == "dynamic" && kev.writeMode == "overwrite")
    assert(kev.lookupKeys == Seq("vulnerability.id"))
    assert(kev.transformVrl.exists(_.contains(".vulnerability.id = del(.json.cveID)")))
    assert(kev.ecsFieldNames.contains("vulnerability.id"))

    val tf = EnrichmentYaml.loadDir(s"$managedDir/abusech_threatfox")
    assert(tf.writeMode == "merge")
    assert(tf.primaryKey.contains("event.id")) // Enrichment.kt:364 pk gate

    val mb = EnrichmentYaml.loadDir(s"$managedDir/abusech_malwarebazaar")
    assert(mb.primaryKey.contains("threat.indicator.file.hash.md5"))
  }

  test("managed redirect shallow-merges with user keys winning (enrichment.ts:239)") {
    // an in-test managed base under the lower-cased type dir, so the
    // `managed.type: CISA_KEV` -> `cisa_kev/` lookup is exercised too
    val managedRoot = tempDir("enrich_managed")
    Files.createDirectories(managedRoot.resolve("cisa_kev"))
    Files.writeString(managedRoot.resolve("cisa_kev/enrichment.yml"),
      """name: cisa_kev
        |enrichment_type: dynamic
        |lookup_keys:
        |  - vulnerability.id
        |transform: |
        |  .vulnerability.id = del(.json.cveID)
        |""".stripMargin)
    val dir = tempDir("enrich_user").toString
    Files.writeString(Paths.get(dir, "enrichment.yml"),
      """name: my_kev
        |managed:
        |  type: CISA_KEV
        |lookup_keys:
        |  - vulnerability.description
        |""".stripMargin)
    val c = EnrichmentYaml.loadDir(dir, managedRoot = Some(managedRoot.toString))
    assert(c.name == "my_kev") // user key wins
    assert(c.lookupKeys == Seq("vulnerability.description")) // replaced, not unioned
    assert(c.enrichmentType == "dynamic") // from managed base
    assert(c.transformVrl.nonEmpty) // from managed base
  }

  test("static table with explicit write_mode fails at load (enrichment.ts:240)") {
    val e = intercept[RuntimeException] {
      EnrichmentYaml.loadYaml(
        """name: bad
          |enrichment_type: static
          |write_mode: merge
          |""".stripMargin)
    }
    assert(e.getMessage.contains("always have write mode 'overwrite'"))
    val e2 = intercept[Exception] {
      EnrichmentYaml.loadYaml(
        """name: bad2
          |enrichment_type: dynamic
          |write_mode: merge
          |""".stripMargin)
    }
    assert(e2.getMessage.contains("primary_key"))
  }

  test("write-mode dispatch: overwrite replaces, append adds, merge upserts") {
    def conf(mode: String) = EnrichmentYaml.loadYaml(
      s"""name: t_$mode
         |enrichment_type: dynamic
         |${if (mode == "overwrite") "" else s"write_mode: $mode"}
         |schema:
         |  primary_key: uid
         |lookup_keys: [uid]
         |""".stripMargin)
    def df(rows: (String, String)*) = rows.toSeq.toDF("uid", "tag")
    def rowsOf(c: EnrichmentYaml.EnrichmentConf, t: String) =
      c.read(spark, t).as[(String, String)].collect().toSet

    // overwrite: second sync fully replaces the first
    val to = tempDir("enr_o").toString + "/t"
    val co = conf("overwrite")
    co.sync(spark, to, df("a" -> "1", "b" -> "1"))
    co.sync(spark, to, df("c" -> "2"))
    assert(rowsOf(co, to) == Set("c" -> "2"))

    // append: both syncs' rows remain
    val ta = tempDir("enr_a").toString + "/t"
    val ca = conf("append")
    ca.sync(spark, ta, df("a" -> "1"))
    ca.sync(spark, ta, df("b" -> "2"))
    assert(rowsOf(ca, ta) == Set("a" -> "1", "b" -> "2"))

    // merge: matched pk updates in place, new pk inserts
    val tm = tempDir("enr_m").toString + "/t"
    val cm = conf("merge")
    cm.sync(spark, tm, df("a" -> "1", "b" -> "1"))
    cm.sync(spark, tm, df("b" -> "9", "c" -> "3"))
    assert(rowsOf(cm, tm) == Set("a" -> "1", "b" -> "9", "c" -> "3"))
  }

  test("user_info config drives lookupJoin end-to-end from the real YAML") {
    assumeReference(exampleDir)
    val c = EnrichmentYaml.loadDir(s"$exampleDir/user_info")
    val t = tempDir("enr_l").toString + "/t"
    val users = Seq(("u1", "Alice"), ("u2", "Bob")).toDF("user_id", "name")
    c.sync(spark, t, users)
    val events = Seq(("e1", "u1"), ("e2", "u3")).toDF("event_id", "uid")
    val out = c.lookup(events, c.read(spark, t), col("uid"))
      .select(col("event_id"), col("user_info.name").as("n"))
      .as[(String, String)].collect().toMap
    assert(out == Map("e1" -> "Alice", "e2" -> null))
  }
}
