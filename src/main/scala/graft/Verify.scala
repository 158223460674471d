package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [name,name,...]`. The
  * driver always passes exactly two args; the optional third restricts
  * both the dumped queries and oracle_sql.json to the named subset, so
  * `tools/check.py` reports just those. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(sfDir, only))
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The oracle_sql.json object for `sfDir`: the sf0.01-pinned golden
    * oracles only apply at the scale they were captured at (elsewhere
    * those queries degrade to rows-only checks), and `only` keeps just
    * the named queries. */
  def oracleJson(sfDir: String, only: Option[Set[String]]): String = {
    val atPinnedScale = Paths.get(sfDir).getFileName.toString == "sf0.01"
    SparkEntry.oracleSql
      .filter { case (k, _) =>
        (atPinnedScale || !Oracles.pinnedToSf001(k)) && only.forall(_.contains(k))
      }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
  }
}
