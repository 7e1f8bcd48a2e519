package graft.sources

import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import graft.pipeline.SourceSpec

/** Source connectors (SURVEY.md §2.1) — the reference's five source
  * types (file, directory, jdbc, kafka, s3; factory/SourceFactory.java:
  * 45-55) mapped onto Spark's DataFrameReader / readStream. Each maps
  * declaratively so Catalyst sees a plain relation: pushdown and pruning
  * apply to every connector for free.
  */
object Sources {

  /** Batch read. `directory`/`kafka` are inherently streaming in the
    * reference; their batch form reads the current snapshot.
    */
  def read(spark: SparkSession, spec: SourceSpec): DataFrame = spec.kind match {
    case "file" | "directory" => fileReader(spark, spec.properties)
    case "s3" =>
      requireConnector("s3")
      applyS3Conf(spark, spec.properties)
      fileReader(spark, spec.properties ++
        spec.properties.get("path").map(p => "path" -> s3aPath(p)))
    case "jdbc" =>
      spark.read.format("jdbc").options(jdbcOptions(spec.properties)).load()
    case "kafka" =>
      requireConnector("kafka")
      spark.read.format("kafka").options(kafkaOptions(spec.properties)).load()
    case "table" | "hive" =>
      // catalog table source (session catalog, or Hive metastore when
      // the session was built with enableHiveSupport) — managed tables
      // carry their own schema + statistics, so pruning/pushdown apply
      spark.table(spec.properties.getOrElse("table",
        throw new IllegalArgumentException("Table source requires table")))
    case other => throw new IllegalArgumentException(s"Unknown source type: $other")
  }

  /** Streaming read (Structured Streaming) — the reference's directory
    * watch / kafka poll. File-based streams track new files exactly like
    * the reference's FileSourceContext.readNewFiles().
    */
  def readStream(spark: SparkSession, spec: SourceSpec): DataFrame = spec.kind match {
    case "file" | "directory" | "s3" =>
      if (spec.kind == "s3") { requireConnector("s3"); applyS3Conf(spark, spec.properties) }
      val props = spec.properties
      val path = if (spec.kind == "s3") s3aPath(props("path")) else props("path")
      val fmt = props.getOrElse("format", "text")
      val reader = spark.readStream.format(fmt)
        .options(fileOptions(props) ++ streamFileOptions(props))
      // streaming file sources need an explicit schema (except text)
      props.get("schemaDdl") match {
        case Some(ddl) => reader.schema(ddl).load(path)
        case None if fmt == "text" => reader.load(path)
        case None => reader.schema(
          read(spark, spec.copy(kind = "file",
            properties = props + ("path" -> path))).schema).load(path)
      }
    case "kafka" =>
      requireConnector("kafka")
      spark.readStream.format("kafka").options(kafkaOptions(spec.properties)).load()
    case other => throw new IllegalArgumentException(s"Source $other is not streamable")
  }

  /** Streaming-only file-source options. The reference's FileSourceContext
    * moves each consumed file to a `processed/` directory so a restart can
    * never reprocess it (FileSourceContext.java:113-121); Spark's native
    * equivalent is `cleanSource=archive` + `sourceArchiveDir`, exposed here.
    * The short form `archiveDir: <dir>` implies cleanSource=archive;
    * `cleanSource`/`sourceArchiveDir`/`latestFirst`/`maxFileAge` also pass
    * through verbatim (so `cleanSource: delete` works too). Archival keeps
    * the watched directory bounded — on a 100 TB ingest the alternative is
    * an ever-growing file listing on every micro-batch.
    */
  def streamFileOptions(props: Map[String, String]): Map[String, String] = {
    val shortForm = props.get("archiveDir").map(d =>
      Map("cleanSource" -> "archive", "sourceArchiveDir" -> d)).getOrElse(Map.empty)
    shortForm ++
      Seq("cleanSource", "sourceArchiveDir", "latestFirst", "maxFileAge")
        .flatMap(k => props.get(k).map(k -> _))
  }

  /** Fail fast when a connector's runtime classes are absent. Without
    * this, a pipeline whose kafka/s3 jar is missing submits cleanly and
    * dies inside the first (micro-)batch with a raw ClassNotFoundException
    * from deep in the DataSource resolver. Checked at source/sink
    * construction so `PipelineRunner.submit` reports a diagnosable config
    * error instead (reference users hit this first: KafkaSourceContext /
    * S3SourceContext are its most-deployed connectors).
    */
  def requireConnector(kind: String): Unit = kind match {
    case "kafka" if !dataSourceRegistered("kafka") =>
      throw new IllegalArgumentException(
        "Kafka connector not on the classpath: no DataSource registered for format 'kafka'. " +
          "Add the spark-sql-kafka-0-10 (+ kafka-clients, commons-pool2) jars to the Spark classpath.")
    case "s3" if !classPresent("org.apache.hadoop.fs.s3a.S3AFileSystem") =>
      throw new IllegalArgumentException(
        "S3 connector not on the classpath: org.apache.hadoop.fs.s3a.S3AFileSystem is missing. " +
          "Add the hadoop-aws + AWS SDK bundle jars to the Spark classpath.")
    case _ => ()
  }

  private[graft] def dataSourceRegistered(shortName: String): Boolean = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[org.apache.spark.sql.sources.DataSourceRegister],
        Thread.currentThread().getContextClassLoader)
      .iterator().asScala.exists(_.shortName() == shortName)
  }

  private[graft] def classPresent(fqcn: String): Boolean =
    try { Class.forName(fqcn, false, Thread.currentThread().getContextClassLoader); true }
    catch { case _: Throwable => false }

  /** S3 credential/endpoint properties → hadoop s3a configuration
    * (reference S3SourceContext config: accessKey/secretKey/region/
    * endpoint). Unset properties leave the default s3a credential chain
    * (env, instance profile) untouched.
    *
    * Scoped PER BUCKET when the spec's path names one
    * (`fs.s3a.bucket.<name>.*` — hadoop-aws's own mechanism): the
    * hadoopConfiguration is session-global, so two concurrently
    * submitted pipelines with different credentials/endpoints would
    * otherwise clobber each other before their lazy frames run.
    * Bucket-less specs fall back to the global keys.
    */
  def applyS3Conf(spark: SparkSession, props: Map[String, String]): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val prefix = props.get("path").flatMap(bucketOf) match {
      case Some(b) => s"fs.s3a.bucket.$b."
      case None => "fs.s3a."
    }
    props.get("accessKey").foreach(hc.set(prefix + "access.key", _))
    props.get("secretKey").foreach(hc.set(prefix + "secret.key", _))
    props.get("endpoint").foreach(hc.set(prefix + "endpoint", _))
    props.get("region").foreach(hc.set(prefix + "endpoint.region", _))
    props.get("pathStyleAccess").foreach(hc.set(prefix + "path.style.access", _))
  }

  /** Bucket name of an s3/s3a path (or a bare `bucket/prefix` spec). */
  private[graft] def bucketOf(p: String): Option[String] = {
    val noScheme =
      if (p.contains("://")) p.substring(p.indexOf("://") + 3) else p
    noScheme.split("/", 2).headOption.filter(_.nonEmpty)
  }

  private def fileReader(spark: SparkSession, props: Map[String, String]): DataFrame = {
    val fmt = props.getOrElse("format", "text")
    val path = props.getOrElse("path",
      throw new IllegalArgumentException("File source requires path"))
    // explicit schema (DDL string) — required for DROPMALFORMED/
    // FAILFAST csv/json reads, where inference would mask bad rows
    props.get("schemaDdl") match {
      case None if fmt == "parquet" => parquet(spark, fileOptions(props))(path)
      case ddl =>
        val reader = spark.read.format(fmt).options(fileOptions(props))
        ddl.foreach(reader.schema)
        reader.load(path)
    }
  }

  /** The one parquet reader: `spark.read.options(options).parquet(paths*)`
    * with its schema taken from ONE file footer on the driver instead of
    * from Spark's schema-inference job. That job has one task, which
    * reads the same footer; it cost about 60 ms of job time and driver
    * gap per read on `local[4]` (sf0.1), half of a short query op.
    *
    * The footer is the one Spark's own inference reads
    * (`ParquetUtils.inferSchema` in Spark 4.1, without `mergeSchema`):
    *  - the leaf files Spark's `InMemoryFileIndex` lists for these paths
    *    and options (hidden files skipped but `_metadata` and
    *    `_common_metadata`, `pathGlobFilter`, `recursiveFileLookup`,
    *    `key=value` partition dirs), sorted by path string;
    *  - the first `_common_metadata` wins, then the first `_metadata`,
    *    then the first data file.
    * It is read as the inference job reads it
    * (`ParquetFooterReader.readFooter`, row groups skipped) and converted
    * by `ParquetFileFormat.readSchemaFromFooter` with the session's
    * conversion confs, so Spark's row-metadata schema, `nanosAsLong` and
    * NTZ inference apply as they do there. Partition columns are not in a
    * footer, so Spark still infers them from the paths.
    *
    * Spark's own inference resolves the read when `mergeSchema` is on (as
    * an option or as `spark.sql.parquet.mergeSchema`: that contract reads
    * every footer), when a path is a glob (Spark expands it), when no file
    * is listed, and when the footer cannot be read: Spark's own error (or
    * its `ignoreCorruptFiles` skip) stands.
    * Nothing is cached; each read opens its footer, so a rewritten file
    * is seen at once. ParquetReadSpec pins the schema equal to Spark's and
    * fails on a parquet read anywhere else under `src/main/scala` but
    * `StateDir`, whose versions record their `_schema`.
    */
  def parquet(spark: SparkSession, options: Map[String, String] = Map.empty)(
      paths: String*): DataFrame = {
    val reader = spark.read.options(options)
    footerSchema(spark, options, paths).fold(reader)(reader.schema).parquet(paths: _*)
  }

  private def footerSchema(spark: SparkSession, options: Map[String, String],
      paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (new ParquetOptions(options, conf).mergeSchema ||
        paths.exists(_.exists("{}[]*?\\".contains(_)))) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
      val roots = paths.map { p =>
        val path = new Path(p)
        path.getFileSystem(hadoopConf).makeQualified(path)
      }
      val leaves = new InMemoryFileIndex(spark, roots, options, None)
        .allFiles().sortBy(_.getPath.toString)
      val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      summaries.flatMap(n => leaves.find(_.getPath.getName == n)).headOption
        .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
        .map { file =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
            new ParquetToSparkSchemaConverter(
              assumeBinaryIsString = conf.isParquetBinaryAsString,
              assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
              inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
              nanosAsLong = conf.legacyParquetNanosAsLong,
              respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
        }
    } catch { case NonFatal(_) => None }
  }

  /** Option mapping shared by batch+stream file reads. The reference's
    * `pattern: *.csv` becomes Spark's pathGlobFilter.
    */
  def fileOptions(props: Map[String, String]): Map[String, String] = {
    val passthrough = Seq("header", "delimiter", "inferSchema", "multiLine",
      "recursiveFileLookup", "maxFilesPerTrigger",
      // malformed-record policy (csv/json/xml): PERMISSIVE (nulls +
      // optional corrupt-record column) / DROPMALFORMED / FAILFAST
      "mode", "columnNameOfCorruptRecord",
      // csv null token: with Spark's default ("") a quoted "" reads as
      // null too, so only a set nullValue lets it reach a non_empty rule
      "nullValue",
      // schema evolution across parquet/orc files written at different
      // schema versions: union-of-schemas read
      "mergeSchema",
      // Spark 4 ships the XML datasource in core: `format: xml` needs
      // only its row/root tags forwarded (rowTag required on read)
      "rowTag", "rootTag", "attributePrefix", "valueTag", "ignoreSurroundingSpaces")
    passthrough.flatMap(k => props.get(k).map(k -> _)).toMap ++
      props.get("pattern").map("pathGlobFilter" -> _)
  }

  /** JDBC option mapping (reference: factory/source/JdbcSourceContext).
    * `query` wins over `table`, batchSize becomes fetchsize, and
    * partitioning options pass through for parallel scans at scale.
    */
  def jdbcOptions(props: Map[String, String]): Map[String, String] = {
    val base = Map("url" -> props.getOrElse("jdbcUrl", props.getOrElse("url", "")))
    val target = props.get("query").map("query" -> _)
      .orElse(props.get("table").map("dbtable" -> _))
      .getOrElse(throw new IllegalArgumentException("JDBC source requires table or query"))
    base + target ++
      props.get("user").map("user" -> _) ++
      props.get("password").map("password" -> _) ++
      props.get("batchSize").map("fetchsize" -> _) ++
      Seq("driver", "partitionColumn", "lowerBound", "upperBound", "numPartitions")
        .flatMap(k => props.get(k).map(k -> _))
  }

  /** Kafka option mapping (reference: factory/source/KafkaSourceContext).
    * Exactly one subscription mode wins: `subscribePattern`/`topicPattern`
    * (regex), then `assign` (explicit partitions), then `topic`/
    * `subscribe`. `kafka.*`-prefixed properties pass straight through to
    * the consumer config, mirroring the reference's free-form kafka
    * properties block.
    */
  def kafkaOptions(props: Map[String, String]): Map[String, String] = {
    val subscription: (String, String) =
      props.get("subscribePattern").orElse(props.get("topicPattern"))
        .map("subscribePattern" -> _)
        .orElse(props.get("assign").map("assign" -> _))
        .getOrElse("subscribe" -> props.getOrElse("topic", props.getOrElse("subscribe", "")))
    Map(
      "kafka.bootstrap.servers" ->
        props.getOrElse("bootstrap.servers", props.getOrElse("bootstrapServers", "localhost:9092"))) +
      subscription ++
      Seq("startingOffsets", "endingOffsets", "failOnDataLoss",
        "maxOffsetsPerTrigger", "minPartitions", "includeHeaders")
        .flatMap(k => props.get(k).map(k -> _)) ++
      props.view.filterKeys(k => k.startsWith("kafka.") && k != "kafka.bootstrap.servers").toMap
  }

  /** Reference S3SourceContext reads via bucket/prefix; on Spark that is
    * just an s3a:// path (hadoop-aws handles auth via the usual chain).
    */
  def s3aPath(p: String): String =
    if (p.startsWith("s3://")) "s3a://" + p.stripPrefix("s3://")
    else if (p.startsWith("s3a://") || p.contains("://")) p
    else s"s3a://$p"
}
