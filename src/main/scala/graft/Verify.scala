package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check_oracle.py`).
  * A query that throws does not stop the dump, but the run then exits
  * nonzero and names every failed query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    // dev loop: GRAFT_VERIFY_ONLY=q1,q2 restricts the dump to named
    // queries (check_oracle.py still iterates the FULL oracle map, so a
    // filtered dump only passes the gate into an outDir that already
    // holds dumps for the rest); the driver leaves it unset and dumps
    // everything. Unknown names fail fast — a typo'd filter would
    // otherwise dump nothing and exit 0.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"GRAFT_VERIFY_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      require(names.nonEmpty, "GRAFT_VERIFY_ONLY is set but names no queries")
    }
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
