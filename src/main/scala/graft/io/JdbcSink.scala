package graft.io

import java.util.Properties
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

import graft.model.TableSpec
import graft.types.Dialect

/** JDBC write path for the reference's actual targets (MySQL / SQL Server;
  * Connection_DB.ps1:95-103, 145-148). This container has no live database,
  * so the option/URL assembly is unit-tested and the writes are exercised
  * against real engines in deployment; everything here is plain
  * `DataFrameWriter.jdbc` — executor-parallel batched inserts, which already
  * replaces the reference's one-statement-per-row autocommit loop
  * (Data_Migration.ps1:267, BASELINE.md write amplification). */
object JdbcSink {

  def jdbcUrl(dialect: Dialect, host: String, port: Int, db: String): String =
    dialect match {
      case Dialect.MySQL =>
        s"jdbc:mysql://$host:$port/$db?rewriteBatchedStatements=true"
      case Dialect.SQLServer =>
        s"jdbc:sqlserver://$host:$port;databaseName=$db"
    }

  def connectionProperties(dialect: Dialect, user: String,
      password: String, batchSize: Int = 1000): Properties = {
    val p = new Properties()
    p.setProperty("user", user)
    p.setProperty("password", password)
    p.setProperty("batchsize", batchSize.toString) // bulk, not row-at-a-time
    p.setProperty("driver", dialect match {
      case Dialect.MySQL => "com.mysql.cj.jdbc.Driver"
      case Dialect.SQLServer => "com.microsoft.sqlserver.jdbc.SQLServerDriver"
    })
    p
  }

  /** Append `df` into `spec.name`, creating the table from the compiled DDL
    * when asked (S14). `REPLACE INTO` upsert semantics on JDBC targets come
    * from computing the keyed merge in Spark ([[Sinks.upsert]] against a
    * JDBC-read target) and overwriting, or from a database-side staging
    * MERGE — both avoid per-row statements. */
  def append(df: DataFrame, spec: TableSpec, dialect: Dialect, url: String,
      props: Properties, createTable: Boolean = false): Unit = {
    if (createTable)
      df.write.mode("overwrite")
        .option("createTableColumnTypes", columnTypeList(spec, dialect))
        .jdbc(url, spec.name, props)
    else df.write.mode("append").jdbc(url, spec.name, props)
  }

  /** `createTableColumnTypes`-formatted column list from the compiled spec
    * (D6 type mapping drives the JDBC DDL exactly like the file path). */
  def columnTypeList(spec: TableSpec, dialect: Dialect): String =
    spec.columns.map(c => s"${c.name} ${c.sqlType(dialect)}").mkString(", ")

  /** Health probe (Connection_DB.ps1 liveness checks, S20): a LIMIT-1 read;
    * false on any connectivity/auth failure. The probe table expression is
    * dialect-dependent (`SELECT 1` works on MySQL/SQL Server; Derby wants
    * `VALUES 1`, Oracle `DUAL`) — override for other engines. */
  def probe(spark: org.apache.spark.sql.SparkSession, url: String,
      props: Properties,
      probeTable: String = "(SELECT 1 AS ok) AS probe"): Boolean =
    try {
      spark.read.jdbc(url, probeTable, props).head()
      true
    } catch { case NonFatal(_) => false }
}
