package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface (SURVEY.md §2.2 "Scans/sources" / "Sinks").
  *
  * The reference reads/writes only JDBC (`EtlMain.kt:106,87`); its DuckDB
  * and S3 dependencies signal file/object-store ambitions. Here every
  * format goes through one option-map API so ETL jobs can swap
  * `parquet|csv|json|orc|avro|jdbc` without code changes; object stores
  * are path-schemes (`s3a://...`), not code. This is the only module
  * that turns a format name into a reader or writer call —
  * `graft.etl.EtlRunner` reads and writes through it.
  *
  * Scale notes:
  *  - schema is explicit for text formats (csv/json): schema inference
  *    reads the data twice — never acceptable at 100 TB;
  *  - JDBC reads parallelize via partitionColumn/numPartitions bounds,
  *    mirroring the reference's pooled source (max 5 connections,
  *    `DatabaseBean.kt:59` → numPartitions ≤ 5 for parity);
  *  - JDBC writes batch 2000 rows (`EtlMain.kt:74`).
  */
object Sources {

  final case class SourceSpec(
      format: String,
      path: String = "",
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty)

  /** Spark ships Avro's FileFormat inside spark-sql but (in this
    * distribution) without the DataSourceRegister service entry that
    * binds the `avro` short name, so the short name resolves to the
    * provider class here. Row-oriented Avro is the streaming-interchange
    * format (Kafka payloads, schema-registry pipelines) next to the
    * columnar parquet/orc at-rest pair. */
  private def provider(format: String): String = format match {
    case "avro" => "org.apache.spark.sql.avro.AvroFileFormat"
    case other => other
  }

  def read(spark: SparkSession, spec: SourceSpec): DataFrame = {
    var r = spark.read.format(provider(spec.format)).options(spec.options)
    spec.schema.foreach(s => r = r.schema(s))
    spec.format match {
      case "jdbc" => r.load() // url/dbtable|query come from options
      case _ => r.load(spec.path)
    }
  }

  /** JDBC source with bounded parallel partitioned reads. */
  def jdbc(spark: SparkSession, url: String, table: String,
           partitionColumn: Option[(String, Long, Long)] = None,
           numPartitions: Int = 5,
           options: Map[String, String] = Map.empty): DataFrame = {
    var r = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(options)
    partitionColumn.foreach { case (c, lo, hi) =>
      r = r.option("partitionColumn", c)
        .option("lowerBound", lo).option("upperBound", hi)
        .option("numPartitions", numPartitions)
    }
    r.load()
  }

  /** `mode` is any string `DataFrameWriter.mode(String)` accepts
    * (`append|overwrite|ignore|error|errorifexists|default`); Spark
    * rejects any other with `AnalysisException` before a row is written.
    * For `jdbc`, `path` names the target table. */
  def write(df: DataFrame, format: String, path: String,
            mode: String = "overwrite",
            options: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format(provider(format)).mode(mode).options(options)
    format match {
      case "jdbc" => w.option("batchsize", "2000").option("dbtable", path).save()
      case _ => w.save(path)
    }
  }
}
