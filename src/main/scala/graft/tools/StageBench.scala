package graft.tools

import graft.GraftSession
import java.nio.file.{Files, Paths}

/** Symmetric staged-artifact bench staging (r18, the ADVICE-carried
  * asymmetry closure): writes the five memoized-artifact queries'
  * artifacts (q94 ANN ground truth, q143 folded IVF assignment, q156/
  * q157 trained PQ book + encode + coarse assignment, q161 residual
  * book) as parquet under `outDir`, plus `oracle_staged.json` — the
  * alternate DuckDB oracles that READ those artifacts instead of
  * re-deriving them, so `tools/OracleBench.py --staged-dir` can time
  * serve-path vs serve-path. The re-deriving oracles remain the
  * CORRECTNESS gate; OracleBench verifies each staged oracle returns
  * bit-identical rows before timing it.
  *
  * {{{ runMain graft.tools.StageBench [sfDir] [outDir] }}}
  */
object StageBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_staged")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    new java.io.File(outDir).mkdirs()
    graft.queries.Vectors.stageArtifacts(spark, sfDir, outDir)
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = graft.queries.Vectors.stagedOracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.trim)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_staged.json"), json)
    println(s"[stagebench] staged ${graft.queries.Vectors.stagedOracleSql.size} " +
      s"oracles + artifacts at $outDir")
    spark.stop()
  }
}
