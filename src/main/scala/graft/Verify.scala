package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The one session configuration every verify-family main uses, so a
    * dev probe (VerifyOne) is guaranteed representative of the real
    * dump.
    */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.graft.ingest.autosplit", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness.
    */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[graft] def writeOracleJson(outDir: String): Unit = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** Oracle-support tables: Spark-computed inputs (e.g. xxhash64 word
    * hashes DuckDB cannot recompute) that oracle SQL reads back via
    * read_parquet at the FIXED OracleAuxDir path. Verify always runs
    * before the DuckDB compare, so the export is in place when the SQL
    * runs.
    */
  private[graft] def exportAux(spark: SparkSession, sfDir: String,
      names: Iterable[String]): Unit =
    names.foreach { name =>
      try SparkEntry.oracleAux(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite")
        .parquet(s"${SparkEntry.OracleAuxDir}/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] aux $name failed: ${e.getMessage}")
      }
      Cleanup.dropPersisted(spark)
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Cleanup.dropPersisted(spark)
    }
    exportAux(spark, sfDir, SparkEntry.oracleAux.keys)
    writeOracleJson(outDir)
    spark.stop()
  }
}

/** Dev probe: dump ONE named query (comma-separated for several) plus
  * the full oracle_sql.json, so a single operator's oracle can be
  * checked in seconds instead of re-running the whole registry
  * (tools/smoke_query.py drives it). Session, aux export, and the
  * oracle-json writer are Verify's own, so the dump is representative
  * by construction. The oracleAux tables the selected queries' oracle
  * SQL reads (its `OracleAuxDir/<name>` paths) are re-exported first,
  * and no others.
  */
object VerifyOne {
  private val AuxPath =
    (java.util.regex.Pattern.quote(SparkEntry.OracleAuxDir) +
      "/([A-Za-z0-9_]+)").r

  /** The oracleAux names an oracle SQL text reads. */
  private def auxRead(sql: String): Set[String] =
    AuxPath.findAllMatchIn(sql).map(_.group(1)).toSet

  def main(args: Array[String]): Unit = {
    val Array(names, sfDir, outDir) = args
    val spark = Verify.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = names.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    Verify.exportAux(spark, sfDir,
      selected.flatMap(SparkEntry.oracleSql.get).flatMap(auxRead).distinct)
    selected.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      Cleanup.dropPersisted(spark)
    }
    Verify.writeOracleJson(outDir)
    spark.stop()
  }
}
