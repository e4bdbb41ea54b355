package graft.spark.source

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.spark.EncodeJob

/** DataSource V2 TableCatalog over a warehouse directory — the full SQL
  * surface for graft tables:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.spark.source.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft
  *
  *   CREATE NAMESPACE graft.web;
  *   CREATE TABLE graft.web.pages (url STRING, text STRING) USING graft
  *     TBLPROPERTIES ('compression' = 'zstd', 'sortColumns' = 'url');
  *   INSERT INTO graft.web.pages SELECT ...;      -- full encode pipeline
  *   SELECT * FROM graft.web.pages WHERE url = '...';  -- pruned scan
  *   CREATE TABLE graft.web.copy USING graft AS SELECT * FROM graft.web.pages;
  *   DROP TABLE graft.web.pages;
  * }}}
  *
  * A table IS an encode output directory (`warehouse/<ns...>/<name>`):
  * everything the path-based `format("graft")` surface provides —
  * pushdowns, time travel, streaming, compaction — applies unchanged,
  * and a directory written by `EncodeJob`/`df.write` can be adopted by
  * the catalog as-is (the persisted schema.json is the table's
  * existence marker). Create-time TBLPROPERTIES are persisted next to
  * it (`catalog.json`) and become default write options for every
  * INSERT, so the layout choices live with the table, not the
  * statement.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.warehouse"))
  }
  override def name(): String = catalogName

  private def spark = SparkSession.active
  private def fs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dirOf(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name()).toSeq).mkString("/")
  private def dirOf(ns: Array[String]): String = (warehouse +: ns.toSeq).mkString("/")

  private def propsPath(dir: String) = new Path(s"$dir/catalog.json")

  // ---------- tables ----------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val root = new Path(dirOf(namespace))
    val f = fs(root)
    if (!f.exists(root)) throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    f.listStatus(root).filter(_.isDirectory)
      .filter(st => f.exists(new Path(st.getPath, "schema.json")))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    fs(new Path(dirOf(ident))).exists(new Path(EncodeJob.schemaPath(dirOf(ident))))

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    val schema = graft.spark.TableMeta.snapshot(spark, dir).schema.getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
    val props = readProps(dir)
    new GraftTable(dir, schema, new CaseInsensitiveStringMap(props), tableProps = props)
  }

  /** SQL time travel: `SELECT ... FROM graft.db.t VERSION AS OF <batch>`
    * — a version IS a committed batch id (monotone across every write
    * path), resolved through the same asOfBatch machinery as the
    * path-surface read option.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    val schema = graft.spark.TableMeta.snapshot(spark, dir).schema.getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
    require(version.matches("\\d+"),
      s"graft versions are committed batch ids (got '$version')")
    val props = readProps(dir)
    val merged = new java.util.HashMap[String, String](props)
    merged.put("asOfBatch", version)
    new GraftTable(dir, schema, new CaseInsensitiveStringMap(merged), tableProps = merged)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft tables do not take PARTITIONED BY — use TBLPROPERTIES " +
        "('keyColumn'/'sortColumns'/'zorderColumns') for clustering")
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    if (ident.namespace().nonEmpty && !namespaceExists(ident.namespace()))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(ident.namespace())
    val dir = dirOf(ident)
    // validate + persist properties BEFORE schema.json: schema.json is
    // the existence marker, so a property rejection must not leave a
    // half-created table behind. Drop Spark's bookkeeping props.
    val keep = new java.util.HashMap[String, String]()
    properties.forEach { (k, v) =>
      if (!k.startsWith("option.") && k != "provider" && k != "owner" &&
          k != "location" && !k.startsWith("spark.sql.")) keep.put(k, v)
    }
    if (!keep.isEmpty) writeProps(dir, keep)
    EncodeJob.writeSchemaJson(spark, dir, schema)
    new GraftTable(dir, schema, new CaseInsensitiveStringMap(keep),
      tableProps = readProps(dir))
  }

  /** ALTER TABLE: ADD COLUMN (top-level, forced nullable — batches
    * written before the ALTER serve typed nulls for it; the read side
    * null-fills per chunk group) and SET/UNSET TBLPROPERTIES. Everything
    * else (drop/rename/retype a column) would silently strand written
    * data and is refused loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val dir = dirOf(ident)
    var schema = EncodeJob.schemaFromDisk(spark, dir).getOrElse(
      throw new IllegalStateException(s"table $ident has no schema.json"))
    val props = new java.util.HashMap[String, String](readProps(dir))
    var schemaChanged = false
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          s"graft schemas are flat — cannot add nested field ${add.fieldNames().mkString(".")}")
        val name = add.fieldNames()(0)
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"column $name already exists in $ident")
        require(add.position() == null,
          "graft ADD COLUMN appends at the end (FIRST/AFTER would reorder " +
            "columns under batches already written)")
        // forced nullable: every already-written row reads NULL for it
        schema = schema.add(org.apache.spark.sql.types.StructField(
          name, add.dataType(), nullable = true,
          if (add.comment() != null)
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString("comment", add.comment()).build()
          else org.apache.spark.sql.types.Metadata.empty))
        schemaChanged = true
      case set: TableChange.SetProperty =>
        props.put(set.property(), set.value())
      case rm: TableChange.RemoveProperty =>
        props.remove(rm.property())
      case other =>
        throw new UnsupportedOperationException(
          s"graft ALTER TABLE supports ADD COLUMN and [UN]SET TBLPROPERTIES only, got $other " +
            "(dropping/renaming/retyping a column would strand written data)")
    }
    if (schemaChanged) EncodeJob.writeSchemaJson(spark, dir, schema)
    writeProps(dir, props)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = new Path(dirOf(ident))
    val dropped = tableExists(ident) && fs(dir).delete(dir, /* recursive */ true)
    graft.spark.TableMeta.invalidate(dirOf(ident))
    dropped
  }

  override def renameTable(old: Identifier, to: Identifier): Unit = {
    if (!tableExists(old))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(old)
    if (tableExists(to))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(to)
    val f = fs(new Path(dirOf(old)))
    require(f.rename(new Path(dirOf(old)), new Path(dirOf(to))),
      s"rename ${old} -> ${to} failed")
    Seq(old, to).foreach(i => graft.spark.TableMeta.invalidate(dirOf(i)))
  }

  // ---------- table properties sidecar ----------

  private def readProps(dir: String): java.util.HashMap[String, String] = {
    val out = new java.util.HashMap[String, String]()
    val p = propsPath(dir)
    val f = fs(p)
    if (!f.exists(p)) return out
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    """"([^"]+)"\s*:\s*"([^"]*)"""".r.findAllMatchIn(text)
      .foreach(m => out.put(m.group(1), m.group(2)))
    out
  }

  private def writeProps(dir: String, props: java.util.Map[String, String]): Unit = {
    import scala.jdk.CollectionConverters._
    val safe = props.asScala.toSeq.sortBy(_._1).map { case (k, v) =>
      require(!k.contains("\"") && !v.contains("\""),
        s"graft table property $k: quotes not supported")
      s""""$k":"$v""""
    }
    val p = propsPath(dir)
    val os = fs(p).create(p, /* overwrite */ true)
    try os.write(safe.mkString("{", ",", "}").getBytes("UTF-8")) finally os.close()
  }

  // ---------- namespaces ----------

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  /** Namespaces nest arbitrarily deep (`CREATE NAMESPACE g.a.b.c`): a
    * namespace is a warehouse subdirectory that is not a table, so the
    * hierarchy IS the directory tree.
    */
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    val root = new Path(dirOf(namespace))
    val f = fs(root)
    if (!f.exists(root)) return Array.empty
    f.listStatus(root).filter(_.isDirectory)
      .filterNot(st => f.exists(new Path(st.getPath, "schema.json"))) // tables aren't namespaces
      .map(st => namespace :+ st.getPath.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    if (namespace.isEmpty) return true
    val p = new Path(dirOf(namespace))
    val f = fs(p)
    // a TABLE dir is not a namespace — otherwise tables could nest
    // inside tables, unreachable via SHOW and deleted by the outer DROP
    f.exists(p) && !f.exists(new Path(p, "schema.json"))
  }

  private def nsMetaPath(namespace: Array[String]) =
    new Path(dirOf(namespace), "_namespace.json")

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    if (namespace.isEmpty) return java.util.Collections.emptyMap()
    readJsonMap(nsMetaPath(namespace))
  }

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit = {
    val p = new Path(dirOf(namespace))
    require(!fs(p).exists(new Path(p, "schema.json")),
      s"${namespace.mkString(".")} is a table, not a namespace")
    fs(p).mkdirs(p) // parents implied — the warehouse is just a dir tree
    if (!metadata.isEmpty) writeJsonMap(nsMetaPath(namespace), metadata)
  }

  /** ALTER NAMESPACE ... SET/UNSET PROPERTIES — persisted in the
    * namespace dir's `_namespace.json` (underscore keeps every reader
    * away from it; a file is never a table or namespace).
    */
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit = {
    if (!namespaceExists(namespace) || namespace.isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    val meta = new java.util.HashMap[String, String](readJsonMap(nsMetaPath(namespace)))
    changes.foreach {
      case set: NamespaceChange.SetProperty    => meta.put(set.property(), set.value())
      case rm: NamespaceChange.RemoveProperty  => meta.remove(rm.property())
      case other => throw new UnsupportedOperationException(
        s"graft ALTER NAMESPACE supports [UN]SET PROPERTIES only, got $other")
    }
    writeJsonMap(nsMetaPath(namespace), meta)
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = new Path(dirOf(namespace))
    val f = fs(p)
    if (!f.exists(p)) return false
    if (!cascade && f.listStatus(p).exists(_.getPath.getName != "_namespace.json"))
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
    f.delete(p, /* recursive */ true)
  }

  // flat string-map JSON, same hand-rolled shape and quote-refusal
  // contract as catalog.json (readProps/writeProps above)
  private def readJsonMap(p: Path): java.util.Map[String, String] = {
    val out = new java.util.HashMap[String, String]()
    val f = fs(p)
    if (!f.exists(p)) return out
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    """"([^"]+)"\s*:\s*"([^"]*)"""".r.findAllMatchIn(text)
      .foreach(m => out.put(m.group(1), m.group(2)))
    out
  }

  private def writeJsonMap(p: Path, m: java.util.Map[String, String]): Unit = {
    import scala.jdk.CollectionConverters._
    val safe = m.asScala.toSeq.sortBy(_._1).map { case (k, v) =>
      require(!k.contains("\"") && !v.contains("\""),
        s"graft namespace property $k: quotes not supported")
      s""""$k":"$v""""
    }
    val os = fs(p).create(p, /* overwrite */ true)
    try os.write(safe.mkString("{", ",", "}").getBytes("UTF-8")) finally os.close()
  }
}
