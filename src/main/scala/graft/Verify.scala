package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Shared plumbing for the correctness-dump mains ([[Verify]] runs the
  * whole catalog for the driver gate; [[VerifyOne]] a named subset for
  * dev iteration). ONE definition of the dump and the JSON escaping —
  * the escape rule exists because a control char in
  * builder-authored SQL would make the driver's json.load fail and
  * silently zero the round's correctness, so a fix applied to one main
  * but not the other would be exactly the silent drift it guards against. */
private[graft] object VerifyCommon {
  /** Run one declared query to `outDir/<name>` parquet; NON-FATAL
    * failures print (class + message + top frame — a bare NPE's message
    * is null) and continue so one broken query can't hide the rest of a
    * run. Fatal JVM errors (OOM etc.) propagate: after one the session
    * is in an undefined state and every later "result" is suspect. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
    try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/$name")
    catch { case scala.util.control.NonFatal(e) =>
      val at = e.getStackTrace.headOption.map(f => s" at $f").getOrElse("")
      System.err.println(
        s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}$at")
    }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20). */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeOracleJson(outDir: String, oracles: Map[String, String],
      merge: Boolean = false): Unit = {
    val all = if (merge) readStringMap(s"$outDir/oracle_sql.json") ++ oracles
              else oracles
    val json = all
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** Manifest of every query name a run ATTEMPTED — `tools/check.py`
    * fails on a manifest name with no result dir, which is the only way
    * a crashed rows-only query (no oracle entry to miss) can be seen by
    * the gate at all. */
  def writeManifest(outDir: String, names: Seq[String],
      merge: Boolean = false): Unit = {
    val prior = if (merge) readStringSeq(s"$outDir/manifest.json") else Nil
    val all = (prior ++ names).distinct.sorted
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      all.map(jsonStr).mkString("[", ",", "]"))
  }

  private def readStringMap(path: String): Map[String, String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return Map.empty
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(p))
    val it = node.fields()
    val buf = scala.collection.mutable.LinkedHashMap.empty[String, String]
    while (it.hasNext) { val e = it.next(); buf(e.getKey) = e.getValue.asText() }
    buf.toMap
  }

  private def readStringSeq(path: String): Seq[String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return Nil
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(p))
    (0 until node.size()).map(i => node.get(i).asText())
  }
}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Verify <sfDir> <outDir>")
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      VerifyCommon.dump(spark, sfDir, outDir, name, fn)
    }
    VerifyCommon.writeOracleJson(outDir, SparkEntry.oracleSql)
    VerifyCommon.writeManifest(outDir, SparkEntry.queries.keys.toSeq)
    spark.stop()
  }
}
