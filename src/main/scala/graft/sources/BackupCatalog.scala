package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType, StringType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 CATALOG over a warehouse of backup roots — the last
  * connector tier (TableProvider ✓, function registry ✓, session
  * extensions ✓, catalog plugin here): name backups like tables and
  * query them straight from SQL, no `.format(...).load(path)` strings
  * in user code.
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.BackupCatalog
  *   spark.sql.catalog.graft.warehouse = /data/backups
  *   SELECT event_type, count(*) FROM graft.prod.events GROUP BY 1
  * }}}
  *
  * Layout IS the catalog: `warehouse/<namespace…>/<table>` directories,
  * each table a backup root in the reference chunk layout — no
  * metastore, no sync problem; a backup dropped into the warehouse by
  * any writer is immediately queryable (the reference's S3-prefix
  * worldview, `cmd/backup.go:311-313`, lifted to SQL). All the scan
  * machinery — planning-time partition pruning, column pruning into
  * the JSON decode, aggregate pushdown, zone maps, TopN — rides along
  * unchanged because `loadTable` returns the same [[BackupTable]] the
  * path-based reader builds. `INSERT INTO` works without options: the
  * write config (partition/time columns) is recovered from the table's
  * own stamp, [[BackupMeta]] (see [[BackupTable.newWriteBuilder]]).
  */
class BackupCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option warehouse"))
  }

  override def name(): String = catalogName

  private def fs = new Path(warehouse).getFileSystem(HadoopConfs.active())
  private def writeFs = WriteFs.forPath(new Path(warehouse), HadoopConfs.active())

  private def pathOf(parts: Seq[String]): Path =
    parts.foldLeft(new Path(warehouse))((p, s) => new Path(p, s))

  private def tableDir(ident: Identifier): Path =
    pathOf(ident.namespace().toSeq :+ ident.name())

  // ---- tables -------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = pathOf(namespace.toSeq)
    if (!fs.exists(p))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace.toSeq)
    fs.listStatus(p).filter(_.isDirectory)
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    fs.exists(tableDir(ident))

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!fs.exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident.namespace().toSeq :+ ident.name())
    val path = dir.toString
    val (diskPartCols, leaves) = BackupSource.layout(path)
    val dataFields = BackupSource.sampleDataFields(leaves)
    if (dataFields.nonEmpty) {
      val schema = StructType(
        dataFields ++ diskPartCols.map(StructField(_, StringType)))
      new BackupTable(path, schema, diskPartCols)
    } else {
      // Empty root (just created, or truncated): disk can't speak yet,
      // so the CREATE-time stamp is the schema authority — without it a
      // positional INSERT INTO has no column names to resolve against.
      val meta = BackupMeta.read(path)
      val partCols = meta.fold(diskPartCols)(_.partitionColumns)
      new BackupTable(path,
        meta.flatMap(_.createSchema).getOrElse(StructType(
          partCols.map(StructField(_, StringType)))), partCols)
    }
  }

  /** A fresh (empty) backup root. The declared schema is advisory
    * (ACCEPT_ANY_SCHEMA, as the path-based writer): inference over
    * what lands on disk is the truth. PARTITIONED BY identity
    * transforms and a `timeColumn` table property ARE honored (round-8
    * advisor item): they stamp the root ([[BackupMeta]]) at create
    * time, so a later `INSERT INTO` recovers the declared write
    * contract instead of silently producing an unpartitioned table.
    * Non-identity transforms (bucket/days/…) have no meaning in the
    * reference chunk layout and are refused loudly. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    val dir = tableDir(ident)
    if (fs.exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident.namespace().toSeq :+ ident.name())
    val partCols = partitions.toSeq.map { t =>
      val refs = t.references()
      if (t.name() != "identity" || refs.length != 1 ||
          refs(0).fieldNames().length != 1)
        throw new UnsupportedOperationException(
          s"graft catalog supports only identity partition transforms " +
            s"(directory layout), got $t")
      refs(0).fieldNames()(0)
    }.filterNot(_ == "date_dir") // derived by the sink, never declared
    val timeCol = Option(properties.get("timeColumn")).getOrElse("ts")
    writeFs.mkdirs(dir): Unit
    // Stamp the declared contract (and full schema — the authority for
    // the empty table until data lands) so INSERT INTO recovers it.
    val zone = BackupMeta.sessionZone(org.apache.spark.sql.SparkSession.active)
    BackupMeta.write(writeFs, dir)(_ =>
      BackupMeta(zone, timeCol, partCols, createSchema = Some(schema)))
    new BackupTable(dir.toString, schema, partCols)
  }

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "graft catalog tables are directories; ALTER is not supported")

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    fs.exists(dir) && fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    val src = tableDir(oldIdent)
    val dst = tableDir(newIdent)
    if (!fs.exists(src))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(oldIdent.namespace().toSeq :+ oldIdent.name())
    if (fs.exists(dst))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          newIdent.namespace().toSeq :+ newIdent.name())
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")
  }

  // ---- functions ----------------------------------------------------

  /** V2 FUNCTION catalog — the `fns` virtual namespace carries the
    * reference's scalar vocabulary as catalog-resolved SQL functions
    * (`SELECT graft.fns.crc32_hex(col)`), the function-side counterpart
    * of the table tier. Distinct from the SparkSessionExtensions
    * `graft_*` registrations: these resolve through the catalog
    * identifier, need no session setup, and travel with the catalog
    * conf. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("fns")))
      BackupCatalog.functions.keys
        .map(Identifier.of(Array("fns"), _)).toArray
    else if (namespaceExists(namespace)) Array.empty
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchNamespaceException(namespace.toSeq)

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().sameElements(Array("fns")))
      BackupCatalog.functions.getOrElse(ident.name(),
        throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchFunctionException(ident))
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  // ---- namespaces ---------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else {
      val p = pathOf(namespace.toSeq)
      if (!fs.exists(p))
        throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchNamespaceException(namespace.toSeq)
      // one level of nesting: namespaces hold tables, not namespaces
      Array.empty
    }
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    fs.exists(pathOf(namespace.toSeq))

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace.toSeq)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit = {
    writeFs.mkdirs(pathOf(namespace.toSeq)): Unit
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val p = pathOf(namespace.toSeq)
    if (!fs.exists(p)) false
    else {
      if (!cascade && fs.listStatus(p).nonEmpty)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty")
      fs.delete(p, true)
    }
  }
}

object BackupCatalog {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{DataType, TimestampType}
  import org.apache.spark.unsafe.types.UTF8String

  /** The reference's per-chunk checksum as a SQL scalar
    * (`helpers/helpers.go:58-63` / `cmd/backup.go:309`): lowercase
    * 8-hex CRC32 of the string's UTF-8 bytes. */
  private object Crc32Hex extends UnboundFunction {
    override def name(): String = "crc32_hex"
    override def description(): String =
      "crc32_hex(s STRING): lowercase 8-hex CRC32 of s's UTF-8 bytes"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1 &&
        inputType.fields(0).dataType == StringType,
        s"crc32_hex takes one STRING argument, got $inputType")
      new ScalarFunction[UTF8String] {
        override def inputTypes(): Array[DataType] = Array(StringType)
        override def resultType(): DataType = StringType
        override def name(): String = "crc32_hex"
        override def canonicalName(): String = "graft.fns.crc32_hex"
        override def produceResult(input: InternalRow): UTF8String =
          if (input.isNullAt(0)) null
          else {
            val crc = new java.util.zip.CRC32()
            val b = input.getUTF8String(0).getBytes
            crc.update(b, 0, b.length)
            UTF8String.fromString(f"${crc.getValue}%08x")
          }
      }
    }
  }

  /** The chunk-name timestamp layout (`cmd/backup.go:25-28`) in UTC:
    * [[graft.sources.ChunkName.stamp]]. */
  private object ChunkStamp extends UnboundFunction {
    override def name(): String = "chunk_stamp"
    override def description(): String =
      "chunk_stamp(ts TIMESTAMP): the chunk-name stamp of ts " +
        "(UTC, floored to seconds)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1 &&
        inputType.fields(0).dataType == TimestampType,
        s"chunk_stamp takes one TIMESTAMP argument, got $inputType")
      new ScalarFunction[UTF8String] {
        override def inputTypes(): Array[DataType] = Array(TimestampType)
        override def resultType(): DataType = StringType
        override def name(): String = "chunk_stamp"
        override def canonicalName(): String = "graft.fns.chunk_stamp"
        override def produceResult(input: InternalRow): UTF8String =
          if (input.isNullAt(0)) null
          else UTF8String.fromString(
            ChunkName.stamp(input.getLong(0), java.time.ZoneOffset.UTC))
      }
    }
  }

  val functions: Map[String, UnboundFunction] =
    Map("crc32_hex" -> Crc32Hex, "chunk_stamp" -> ChunkStamp)
}
