package graft

import graft.ingest.ParquetIngest
import org.apache.spark.sql.SparkSession

/** CLI entry mirroring the reference's import tool (`app.py` "Start
  * Import"): parquet source → probe report → sink write with
  * fail/replace/append semantics.
  *
  * Usage:
  *   runMain graft.Ingest <source.parquet> parquet:<outDir> [fail|replace|append]
  *   runMain graft.Ingest <source.parquet> jdbc:<url>:<table> [mode]
  *   cat small.parquet | runMain graft.Ingest - parquet:<outDir> [mode]
  *
  * `-` reads the parquet bytes from STDIN — the CLI analog of the
  * reference's "Upload File (Small Files)" buffer input (`app.py:30-31`):
  * the bytes are magic-validated and spooled ONCE here, then probe and
  * ingest read the same spool path (library callers holding a buffer use
  * [[ParquetIngest.ingestUpload]], which owns its own spool).
  */
object Ingest {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Ingest <source>|- parquet:<dir>|jdbc:<url>:<table> [fail|replace|append]")
    val Array(rawSource, sinkSpec) = args.take(2)
    // stdin upload: validate + spool once; the finally below deletes the
    // spool as soon as the run ends instead of pinning it for the JVM
    // lifetime (and ingestUpload would have re-validated + re-spooled)
    val spooled: Option[java.nio.file.Path] =
      if (rawSource == "-") {
        val bytes = System.in.readAllBytes()
        // fail fast on a bad pipe (empty stdin, not-parquet bytes) before
        // any Spark startup cost; under sbt, stdin needs
        // `run / connectInput := true`
        ParquetIngest.requireParquetBuffer(bytes)
        val spool =
          java.nio.file.Files.createTempFile("graft_upload_cli_", ".parquet")
        java.nio.file.Files.write(spool, bytes)
        Some(spool)
      } else None
    val source = spooled.map(_.toString).getOrElse(rawSource)
    val mode = if (args.length > 2) args(2) else "fail"
    val spark = GraftSession.local()
    try run(spark, source, sinkSpec, mode)
    finally {
      spooled.foreach(java.nio.file.Files.deleteIfExists)
      spark.stop()
    }
  }

  private def run(spark: SparkSession, source: String, sinkSpec: String,
      mode: String): Unit = {
    val probe = ParquetIngest.probe(spark, source)
    println(s"[ingest] probe: rows=${probe.numRows} rowGroups=${probe.numRowGroups} " +
      s"cols=${probe.columns.size} spatial=${probe.spatial
        .map(s => s"${s.geometryColumn} (${s.crs}, ${s.encoding}" +
          s"${if (s.fromFallback) ", name-fallback" else ""})")
        .getOrElse("none")}")

    val sink =
      if (sinkSpec.startsWith("parquet:"))
        ParquetIngest.ParquetSink(sinkSpec.stripPrefix("parquet:"))
      else if (sinkSpec.startsWith("jdbc:")) {
        val rest = sinkSpec.stripPrefix("jdbc:")
        val i = rest.lastIndexOf(':')
        require(i > 0, "jdbc sink must be jdbc:<url>:<table>")
        val url = s"jdbc:${rest.substring(0, i)}"
        val props = new java.util.Properties()
        // JDBC driver autoloading is classloader-sensitive under forked
        // JVMs; pin the driver class for the URLs we know.
        if (url.startsWith("jdbc:derby:"))
          props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
        else if (url.startsWith("jdbc:postgresql:"))
          props.setProperty("driver", "org.postgresql.Driver")
        ParquetIngest.JdbcSink(url, rest.substring(i + 1), props)
      } else sys.error(s"unknown sink '$sinkSpec'")

    val t0 = System.nanoTime()
    // live per-task progress against the footer row count, like the
    // reference's chunk counter (app.py:185-193); dedupe to whole percents
    val lastPct = new java.util.concurrent.atomic.AtomicInteger(-1)
    val onProgress: Double => Unit = { f =>
      val pct = (f * 100).toInt
      if (lastPct.getAndSet(pct) != pct)
        println(s"[ingest] progress: $pct%")
    }
    // an stdin spool was already validated in main and goes through the
    // same path-based pipeline any source file does — one spool total
    val report = ParquetIngest.ingest(spark, source, sink, mode, onProgress,
      preProbed = Some(probe))
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[ingest] wrote rows=${report.rowsWritten} mode=$mode sink=$sinkSpec " +
      f"in $secs%.2f s (${report.rowsWritten / secs}%.0f rows/s)")
  }
}
