package graft

/** Development helper: [[Verify]] for a NAMED SUBSET of queries — same
  * output layout (a parquet DIRECTORY per query at `outDir/<name>/`,
  * plus `oracle_sql.json` + `manifest.json`), so `tools/check.py` works
  * unchanged while iterating on one operator without paying the full
  * catalog sweep. Oracle and manifest entries MERGE into any existing
  * files (a reused full-Verify outDir keeps its other queries
  * oracle-checked instead of silently downgrading them to rows-only —
  * round-9 review). The session is [[GraftSession.local]] and all
  * dump/escape plumbing is [[VerifyCommon]]'s, as in Verify.
  *
  * Usage: runMain graft.VerifyOne <sfDir> <outDir> <q1> [q2 ...]
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    // validate BEFORE building the session: a forgotten arg or typo'd
    // name should cost a usage line, not a 10 s Spark startup with the
    // error buried in its logs
    require(args.length >= 3,
      "usage: VerifyOne <sfDir> <outDir> <query1> [query2 ...]")
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSet
    val unknown = names.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => names(kv._1)).foreach { case (name, fn) =>
      VerifyCommon.dump(spark, sfDir, outDir, name, fn)
      println(s"[verify-one] wrote $name")
    }
    VerifyCommon.writeOracleJson(outDir,
      SparkEntry.oracleSql.filter(kv => names(kv._1)), merge = true)
    VerifyCommon.writeManifest(outDir, names.toSeq, merge = true)
    spark.stop()
  }
}
