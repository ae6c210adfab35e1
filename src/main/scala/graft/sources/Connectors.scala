package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Config-driven connector registry — the engine's replacement for the
 * reference's seven hard-wired Sequelize singletons
 * (`/root/reference/Connection/<db>/`; credentials came from env vars, and
 * in one case were hardcoded — `MigrationLogFunc/index.js:2`, not
 * reproduced). A source is a name → [[Connector]] binding; pipelines
 * stay storage-agnostic and tests bind the same names to in-memory
 * DataFrames.
 */
sealed trait Connector {
  def read(spark: SparkSession, table: String): DataFrame
  def write(df: DataFrame, table: String, mode: SaveMode): Unit
}

/** Directory-of-parquet connector (the lake layout; one file/dir per
  * table). A read of a Spark-written table costs one footer, read on the
  * driver, and no Spark job ([[ParquetSchema.read]]); other files cost
  * Spark's one-task inference job. `mergeSchema = true` reconciles files
  * written under evolved schemas (added columns surface as nulls on old
  * files) — at a cost: a Spark job reads every file footer at planning,
  * so leave it off for tables with a settled schema. */
final case class ParquetConnector(dir: String,
                                  mergeSchema: Boolean = false) extends Connector {
  def read(spark: SparkSession, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(path)
    else ParquetSchema.read(spark, path)
  }
  def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.mode(mode).parquet(s"$dir/$table.parquet")
}

/**
 * JDBC connector — the reference's world (five Azure SQL sources + the
 * DWH). Reads support partitioned parallelism (`partitionColumn` +
 * bounds → one query per executor slice, the idiomatic replacement for
 * the reference's manual OFFSET/FETCH paging, `FabricQC/run.js:71-80`)
 * and rely on Catalyst pushing filters/projections into the remote SQL.
 * Credentials come from the properties map (caller sources them from
 * env/secret store — never hardcoded).
 */
final case class JdbcConnector(url: String,
                               props: Map[String, String] = Map.empty,
                               partitionColumn: Option[String] = None,
                               numPartitions: Int = 8) extends Connector {

  private def base(spark: SparkSession) = {
    val r = spark.read.format("jdbc").option("url", url)
    props.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }
  }

  def read(spark: SparkSession, table: String): DataFrame =
    partitionColumn match {
      case Some(pc) =>
        // bounds query is a tiny aggregate the remote DB answers from an
        // index; the actual data read then happens in numPartitions
        // parallel range slices. Identifiers are quoted per the remote
        // dialect (Derby/SQL Server fold unquoted names).
        val q = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
          .quoteIdentifier(pc)
        val bounds = base(spark)
          .option("dbtable", s"(SELECT MIN($q) lo, MAX($q) hi FROM $table) b")
          .load().collect().head
        if (bounds.isNullAt(0)) base(spark).option("dbtable", table).load()
        else base(spark).option("dbtable", table)
          .option("partitionColumn", pc)
          .option("lowerBound", bounds.get(0).toString)
          .option("upperBound", bounds.get(1).toString)
          .option("numPartitions", numPartitions)
          .load()
      case None => base(spark).option("dbtable", table).load()
    }

  def write(df: DataFrame, table: String, mode: SaveMode): Unit = {
    val w = df.write.format("jdbc").option("url", url)
      .option("dbtable", table)
    // Derby's default StringType mapping is CLOB, which cannot take a
    // pushed-down comparison (filter pushdown on a string key would
    // then fail remotely) — land strings as VARCHAR instead. Derby's
    // VARCHAR ceiling is 32672; anything shorter would make the INSERT
    // reject long document/text payloads a CLOB used to accept.
    val stringCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
    val w2 =
      if (url.startsWith("jdbc:derby") && stringCols.nonEmpty)
        w.option("createTableColumnTypes",
          stringCols.map(f => s"${f.name} VARCHAR(32672)").mkString(", "))
      else w
    props.foldLeft(w2) { case (acc, (k, v)) => acc.option(k, v) }
      .mode(mode).save()
  }
}

/** CSV connector — the other raw-corpus interchange format next to
  * JSON-lines. Header-driven schema with type inference by default;
  * pass an explicit DDL `schema` in production so a malformed file
  * fails loudly instead of silently inferring strings. */
final case class CsvConnector(dir: String,
                              schema: Option[String] = None) extends Connector {
  def read(spark: SparkSession, table: String): DataFrame = {
    val r = spark.read.option("header", "true")
    schema.fold(r.option("inferSchema", "true"))(s => r.schema(s))
      .csv(s"$dir/$table.csv")
  }
  def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.mode(mode).option("header", "true").csv(s"$dir/$table.csv")
}

/** ORC connector — the other columnar lake format (Hive-heritage
  * lakes). Same predicate-pushdown/column-pruning/vectorized-read
  * properties as parquet under Spark's native ORC reader, so pipelines
  * can point at either format by rebinding the source name. */
final case class OrcConnector(dir: String) extends Connector {
  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.orc(s"$dir/$table.orc")
  def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.mode(mode).orc(s"$dir/$table.orc")
}

/**
 * Raw-media connector — Spark's built-in `binaryFile` source over a
 * directory tree of image/audio/video files: one row per file with
 * (path, modificationTime, length, content), the ingestion front door
 * of the [[graft.operators.Multimodal]] family (decode/resize/
 * feature-extract run on the `content` bytes). Read-only by design —
 * binaryFile has no writer; media blobs leave the engine through the
 * parquet/ORC lake as binary columns, not as loose files — so write()
 * refuses loudly instead of corrupting expectations. `pathGlob`
 * filters at the LISTING level (e.g. `*.png`), before any bytes are
 * read; `maxBytes` guards executors against a single runaway blob.
 */
final case class BinaryFileConnector(dir: String,
                                     pathGlob: Option[String] = None,
                                     maxBytes: Option[Long] = None)
    extends Connector {
  def read(spark: SparkSession, table: String): DataFrame = {
    val r = spark.read.format("binaryFile")
    val g = pathGlob.fold(r)(p => r.option("pathGlobFilter", p))
    val df = g.load(s"$dir/$table")
    maxBytes.fold(df)(m =>
      df.filter(org.apache.spark.sql.functions.col("length") <= m))
  }
  def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    throw new UnsupportedOperationException(
      "binaryFile is a read-only source; write media as binary columns " +
        "through the parquet/ORC lake connectors")
}

/**
 * Document-store SPI — the seam a wire-protocol client (the real
 * MongoDB driver behind the reference's one Mongo source,
 * `MigrationLogFunc/index.js:16-48`) drops into without touching any
 * pipeline: a store yields each collection as RAW JSON documents and
 * accepts them back, nothing more. Everything Spark-side — schema-on-
 * read inference, timestamp detection, nested/sparse fields — lives in
 * [[DocumentStoreConnector]] and is therefore identical across
 * backends, so "swap the stand-in for Mongo" changes ONE binding and
 * zero semantics (ConnectorSpec proves it by running the migration-log
 * pipeline over a second, in-memory store).
 */
trait DocumentStore {
  /** One collection as raw JSON texts, one document per element (what
    * a driver's cursor yields). */
  def documents(spark: SparkSession, collection: String)
      : org.apache.spark.sql.Dataset[String]

  /** Persist documents into a collection (stand-ins and tests; a
    * read-only production binding may throw). */
  def insert(spark: SparkSession,
             docs: org.apache.spark.sql.Dataset[String],
             collection: String, mode: SaveMode): Unit
}

/** [[Connector]] over any [[DocumentStore]]: the shared Spark-side
  * half of every document source — schema-on-read with timestamp
  * inference over the store's raw JSON (S5, the document-database
  * shape: nested objects, sparse fields, no declared schema). */
final case class DocumentStoreConnector(store: DocumentStore)
    extends Connector {
  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.option("inferTimestamp", "true")
      .json(store.documents(spark, table))
  def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    store.insert(df.sparkSession, df.toJSON, table, mode)
}

/** JSON-lines file store, one `<collection>.jsonl` per collection —
  * the driverless stand-in for the reference's MongoDB (this
  * environment has no Mongo server). */
final case class JsonLinesStore(dir: String) extends DocumentStore {
  def documents(spark: SparkSession, collection: String)
      : org.apache.spark.sql.Dataset[String] =
    spark.read.textFile(s"$dir/$collection.jsonl")
  def insert(spark: SparkSession,
             docs: org.apache.spark.sql.Dataset[String],
             collection: String, mode: SaveMode): Unit =
    docs.write.mode(mode).text(s"$dir/$collection.jsonl")
}

/** The historical entry point: a JSON-lines document source routed
  * through the [[DocumentStore]] seam. */
object JsonLinesConnector {
  def apply(dir: String): DocumentStoreConnector =
    DocumentStoreConnector(JsonLinesStore(dir))
}

/**
 * Wire-protocol document store client — the [[DocumentStore]] binding
 * that exercises the seam the way a real driver does, with everything
 * the file/in-memory stand-ins cannot: TCP connection config (host,
 * port, connect/read timeouts), an authenticated handshake, CURSOR
 * BATCHING (`batchSize` docs per exchange, `GETMORE` until the server
 * says `END`), and failure paths — a refused handshake or a connection
 * dropped mid-cursor surfaces as an `IOException`, which a pipeline
 * run records as a failure WITHOUT advancing its watermark
 * (ConnectorSpec proves both against an in-process fault-injecting
 * server).
 *
 * Line-framed protocol, one UTF-8 line per message:
 * {{{
 *   C: HELLO <token>              S: OK | DENIED
 *   C: QUERY <collection> <n>     S: n × "DOC <json>", then MORE <c> | END
 *   C: GETMORE <c>                S: next batch
 *   C: INSERT <collection> <mode>
 *      "DOC <json>" ... COMMIT    S: OK <count>
 * }}}
 *
 * The collection materializes driver-side (like [[JsonLinesStore]]'s
 * read and the reference's own cursor loop): document sources here are
 * control-plane collections — the reference's migration log — bounded
 * by contract. Bulk corpora belong to the lake connectors.
 */
final case class SocketDocumentStore(host: String, port: Int,
                                     authToken: String = "",
                                     batchSize: Int = 64,
                                     connectTimeoutMs: Int = 2000,
                                     readTimeoutMs: Int = 10000)
    extends DocumentStore {

  // batchSize = 0 would make a conformant server answer every QUERY/
  // GETMORE with an empty batch + MORE — an infinite cursor loop the
  // read timeout never breaks (frames keep arriving)
  require(batchSize > 0, s"batchSize must be positive, got $batchSize")
  require(connectTimeoutMs > 0 && readTimeoutMs > 0,
    "connect/read timeouts must be positive")
  // the line-framed grammar has no escaping: a token carrying
  // whitespace or a newline would silently shift every later frame
  require(!authToken.exists(_.isWhitespace),
    "authToken must be a single whitespace-free token")

  /** Frame-safety gate for names spliced into command lines: the
    * grammar tokenizes on spaces and frames on newlines, so a name
    * containing either would corrupt the exchange rather than error. */
  private def requireToken(kind: String, v: String): Unit =
    require(v.nonEmpty && !v.exists(_.isWhitespace),
      s"$kind must be a non-empty single token (no whitespace), got '$v'")

  private def connected[T](f: (java.io.BufferedReader,
                               java.io.PrintWriter) => T): T = {
    val sock = new java.net.Socket()
    try {
      sock.connect(new java.net.InetSocketAddress(host, port),
        connectTimeoutMs)
      sock.setSoTimeout(readTimeoutMs)
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        sock.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
      val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
        sock.getOutputStream, java.nio.charset.StandardCharsets.UTF_8), true)
      out.println(s"HELLO $authToken")
      val hello = in.readLine()
      if (hello != "OK")
        throw new java.io.IOException(
          s"document store handshake refused: ${String.valueOf(hello)}")
      f(in, out)
    } finally sock.close()
  }

  def documents(spark: SparkSession, collection: String)
      : org.apache.spark.sql.Dataset[String] = {
    import spark.implicits._
    requireToken("collection name", collection)
    val docs = connected { (in, out) =>
      val buf = Vector.newBuilder[String]
      out.println(s"QUERY $collection $batchSize")
      var done = false
      while (!done) {
        val line = in.readLine()
        if (line == null)
          throw new java.io.IOException(
            s"connection to $host:$port dropped mid-cursor " +
              s"(collection '$collection')")
        else if (line.startsWith("DOC ")) buf += line.substring(4)
        else if (line.startsWith("MORE "))
          out.println(s"GETMORE ${line.substring(5)}")
        else if (line == "END") done = true
        else throw new java.io.IOException(s"unexpected frame: $line")
      }
      buf.result()
    }
    spark.createDataset(docs)
  }

  def insert(spark: SparkSession,
             docs: org.apache.spark.sql.Dataset[String],
             collection: String, mode: SaveMode): Unit = {
    requireToken("collection name", collection)
    // the wire grammar defines only Append/Overwrite; the spec server
    // treats any other token as overwrite, so serializing
    // ErrorIfExists/Ignore verbatim would silently clobber data
    require(mode == SaveMode.Append || mode == SaveMode.Overwrite,
      s"document-store insert supports Append/Overwrite only, got $mode")
    val rows = docs.collect() // control-plane collections: bounded
    rows.foreach(d => require(!d.contains('\n') && !d.contains('\r'),
      "documents must be newline-free for line framing " +
        s"(got one of ${d.length} chars containing a raw newline)"))
    connected { (in, out) =>
      out.println(s"INSERT $collection $mode")
      rows.foreach(d => out.println(s"DOC $d"))
      out.println("COMMIT")
      val ack = in.readLine()
      if (ack == null || !ack.startsWith("OK"))
        throw new java.io.IOException(
          s"insert into '$collection' not acknowledged: ${String.valueOf(ack)}")
    }
  }
}

/** Name → connector bindings, one per logical source DB (the
  * reference's Core/Purchasing/Sales/FinishingPrinting/Inventory/Deal/
  * DWH set). */
final case class ConnectorRegistry(bindings: Map[String, Connector]) {
  def read(spark: SparkSession, source: String, table: String): DataFrame =
    bindings.getOrElse(source,
      throw new IllegalArgumentException(s"unknown source '$source'"))
      .read(spark, table)
}
