package graft.connector

import java.util

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark `TableCatalog` over the connector endpoint (SURVEY.md §2.1 A14 /
  * §2.2 B-SRC3 + B-SNK2 execution; reference `fetch_schemas`/`fetch_schema`
  * `clickhouse-arrow/src/client.rs:2263,2414`, `create_table` `:2477`).
  *
  * Register as
  * `spark.sql.catalog.<name> = graft.connector.GraftCatalog` with
  * `spark.sql.catalog.<name>.url = http://host:port`; then
  * `SHOW TABLES IN <name>`, `SELECT * FROM <name>.t`,
  * `CREATE TABLE <name>.t (...)` and `DROP TABLE` work end-to-end —
  * createTable generates CH DDL through [[graft.ddl.Ddl]].
  *
  * Namespaces map to ClickHouse databases (`SHOW/CREATE/DROP DATABASE`;
  * reference `src/client.rs:2263` schema listing spans databases,
  * `:924`/`:974` create/drop): `SHOW NAMESPACES IN <name>`,
  * `CREATE NAMESPACE <name>.db`, `DROP NAMESPACE` — single-level only,
  * like ClickHouse itself.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var url: String = _
  private var auth: CHAuth = CHAuth.none
  // catalog-level options re-emitted on every table handle, so scans and
  // writes inherit the catalog's credentials/TLS config
  private var authOpts: Map[String, String] = Map.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    url = options.get("url")
    require(url != null, s"catalog $name: option 'url' is required")
    auth = CHAuth.fromOptions(options)
    authOpts = Seq("user", "password", "sslCaCert", "sslInsecure")
      .flatMap(k => Option(options.get(k)).map(k -> _)).toMap
  }

  override def name(): String = catalogName

  private def db(ident: Identifier): Option[String] = ident.namespace().headOption

  private def tableOptions(ident: Identifier): CaseInsensitiveStringMap = {
    val m = new util.HashMap[String, String]()
    m.put("url", url)
    m.put("table", ident.name())
    db(ident).foreach(m.put("database", _))
    authOpts.foreach { case (k, v) => m.put(k, v) }
    new CaseInsensitiveStringMap(m)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    CHHttp.listTables(url, namespace.headOption, auth)
      .map(t => Identifier.of(namespace, t)).toArray

  override def loadTable(ident: Identifier): Table = {
    val schema =
      try CHHttp.fetchSchema(url, ident.name(), db(ident), auth)
      catch {
        case _: java.io.IOException =>
          throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
            Seq(catalogName) ++ ident.namespace() :+ ident.name())
      }
    new CHTable(schema, tableOptions(ident))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = graft.ddl.CreateOptions(
      engine = Option(properties.get("engine")).getOrElse("MergeTree()"),
      orderBy = Option(properties.get("order_by")).map(_.split(",").map(_.trim).toSeq).getOrElse(Nil),
      partitionBy = Option(properties.get("partition_by")),
      mapping = CHSettings.mappingFrom(new CaseInsensitiveStringMap(properties)))
    CHHttp.execute(url, graft.ddl.Ddl.createTableFromSpark(db(ident), ident.name(), schema, opts), auth)
    new CHTable(schema, tableOptions(ident))
  }

  /** Column DDL → ClickHouse `ALTER TABLE ... ADD/DROP/RENAME/MODIFY
    * COLUMN` (the reference reaches these through raw SQL,
    * `src/client.rs:643`). Top-level columns only — CH nested-field
    * mutation has different semantics. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val ref = CHSql.tableRef(ident.name(), db(ident))
    def chTypeOf(dt: org.apache.spark.sql.types.DataType, nullable: Boolean): String =
      graft.types.CHType.format(graft.types.CHType.fromSpark(dt, nullable))
    changes.foreach {
      case a: TableChange.AddColumn if a.fieldNames.length == 1 =>
        CHHttp.execute(url,
          s"ALTER TABLE $ref ADD COLUMN ${CHSql.ident(a.fieldNames()(0))} " +
            chTypeOf(a.dataType(), a.isNullable), auth)
      case d: TableChange.DeleteColumn if d.fieldNames.length == 1 =>
        CHHttp.execute(url,
          s"ALTER TABLE $ref DROP COLUMN ${CHSql.ident(d.fieldNames()(0))}", auth)
      case r: TableChange.RenameColumn if r.fieldNames.length == 1 =>
        CHHttp.execute(url,
          s"ALTER TABLE $ref RENAME COLUMN ${CHSql.ident(r.fieldNames()(0))} " +
            s"TO ${CHSql.ident(r.newName())}", auth)
      case u: TableChange.UpdateColumnType if u.fieldNames.length == 1 =>
        CHHttp.execute(url,
          s"ALTER TABLE $ref MODIFY COLUMN ${CHSql.ident(u.fieldNames()(0))} " +
            chTypeOf(u.newDataType(), true), auth)
      case other =>
        throw new UnsupportedOperationException(
          s"graft-ch catalog: unsupported table change $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    CHHttp.execute(url, graft.ddl.Ddl.dropTable(db(ident), ident.name()), auth)
    true
  }

  /** `ALTER TABLE ch.a RENAME TO ch.b` → ClickHouse `RENAME TABLE`
    * (reference reaches it through raw SQL, `src/client.rs:643`). */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    CHHttp.execute(url,
      s"RENAME TABLE ${CHSql.tableRef(oldIdent.name(), db(oldIdent))} " +
        s"TO ${CHSql.tableRef(newIdent.name(), db(newIdent))}", auth)

  override def tableExists(ident: Identifier): Boolean =
    try { loadTable(ident); true } catch { case _: Exception => false }

  // ------------------------------------------------- namespace surface

  private def noSuchNamespace(namespace: Array[String]): Nothing =
    throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      Seq(catalogName) ++ namespace)

  override def listNamespaces(): Array[Array[String]] =
    CHHttp.listDatabases(url, auth).map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // CH databases don't nest
    else noSuchNamespace(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && CHHttp.listDatabases(url, auth).contains(namespace.head)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) new util.HashMap[String, String]()
    else noSuchNamespace(namespace)

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1,
      s"graft-ch catalog: ClickHouse databases don't nest: ${namespace.mkString(".")}")
    CHHttp.execute(url, s"CREATE DATABASE IF NOT EXISTS ${CHSql.ident(namespace.head)}", auth)
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft-ch catalog: ALTER NAMESPACE not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) noSuchNamespace(namespace)
    if (!cascade && listTables(namespace).nonEmpty)
      throw new IllegalStateException(
        s"graft-ch catalog: namespace ${namespace.head} is not empty (use CASCADE)")
    CHHttp.execute(url, s"DROP DATABASE IF EXISTS ${CHSql.ident(namespace.head)}", auth)
    true
  }
}
