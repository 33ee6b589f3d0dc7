package graft
import graft.util.GraftSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  import org.apache.spark.sql.types.{DataType, StructType, ArrayType, MapType, DecimalType}

  /** Edge-type doctrine (queries/ParityQueries.scala:14): DECIMAL is for
    * internal exactness only; every query's OUTPUT schema must cast money
    * to DOUBLE (or exact BIGINT cents). Spark and DuckDB widen decimal
    * sums differently (decimal(22,2) vs decimal(38,2)), so a raw decimal
    * at the edge hash-mismatches even when every value is equal — q95
    * proved it in round 10. Returns the offending column paths. */
  def decimalColumns(schema: StructType, prefix: String = ""): Seq[String] = {
    def walk(dt: DataType, path: String): Seq[String] = dt match {
      case _: DecimalType  => Seq(path)
      case s: StructType   => s.fields.toSeq.flatMap(f => walk(f.dataType, s"$path.${f.name}"))
      case a: ArrayType    => walk(a.elementType, s"$path[]")
      case m: MapType      => walk(m.keyType, s"$path{k}") ++ walk(m.valueType, s"$path{v}")
      case _               => Nil
    }
    schema.fields.toSeq.flatMap(f => walk(f.dataType, prefix + f.name))
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration
    // only — the driver always passes two args and gets every query)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val raw = decimalColumns(df.schema)
        if (raw.nonEmpty) throw new IllegalStateException(
          s"raw DECIMAL at the query edge (cast to DOUBLE or BIGINT cents): " +
            raw.mkString(", "))
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
  }
}
