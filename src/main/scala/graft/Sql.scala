package graft

/** SQL entry point: run ad-hoc SQL over the testdata tables with the
  * engine's custom functions registered (by [[GraftSession.local]]).
  *
  * Usage: runMain graft.Sql <sfDir> "<SQL>"
  */
object Sql {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Sql <sfDir> \"<SQL>\"")
    val Array(sfDir, sql) = args
    val spark = GraftSession.local()
    Tables.names.foreach { t =>
      // the per-table loaders, NOT the raw reader: `events` normalizes
      // ts to the engine's nanos-long contract, and ad-hoc SQL written
      // against that contract must see the same column every operator
      // and oracle sees
      Tables.loader(t)(spark, sfDir).createOrReplaceTempView(t)
    }
    spark.sql(sql).show(50, truncate = false)
    spark.stop()
  }
}
