package org.apache.spark.sql.jdbc

import org.apache.spark.sql.types.{DataType, StringType}

/** Spark's built-in Derby dialect with strings bound as VARCHAR.
  *
  * The built-in maps `StringType` to CLOB, and the JDBC writer binds a
  * null with that type (`setNull(i, Types.CLOB)`), which Derby refuses
  * for a VARCHAR column ("a data value of type 'VARCHAR' from a data
  * value of type 'CLOB'"). Every other behaviour is the built-in's: the
  * class extends it, which is why it lives in this package (the
  * built-in is package-private). Non-null strings are unaffected — the
  * writer binds them with `setString` under either mapping.
  */
private final class GraftDerbyDialect extends DerbyDialect {
  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case StringType => Some(JdbcType("VARCHAR(32672)", java.sql.Types.VARCHAR))
    case _ => super.getJDBCType(dt)
  }
}

object GraftDerbyDialect {
  /** Swaps the built-in Derby dialect for [[GraftDerbyDialect]] in
    * Spark's registry, once per JVM (a lazy val). The built-in is a
    * case class, so a fresh instance equals the registered one. The
    * JDBC writer resolves the dialect on the driver and ships it inside
    * its tasks, so executors need no registration of their own. */
  lazy val register: Unit = {
    JdbcDialects.unregisterDialect(DerbyDialect())
    JdbcDialects.registerDialect(new GraftDerbyDialect)
  }
}
