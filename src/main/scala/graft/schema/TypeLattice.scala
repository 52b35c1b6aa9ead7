package graft.schema

import org.apache.spark.sql.types._

/** The reference's 5-type inference lattice and its SQL dialect
  * spellings (reference agent-schema/app.py:33-44).
  *
  * The reference maps sampled pandas dtypes onto exactly five SQL
  * types: INT, FLOAT, TIMESTAMP, BOOLEAN, VARCHAR(255). We mirror the
  * lattice over Spark types — widening integer to `LongType` (a 100 TB
  * table overflows 32-bit counters; the reference's `INT` choice is a
  * small-data artifact, SURVEY.md §1.2) and float to `DoubleType`.
  */
object TypeLattice {

  /** Supported inference dialects (reference agent-schema/app.py:29). */
  sealed trait Dialect { def name: String }
  case object Postgres extends Dialect { val name = "postgres" }
  case object MySql extends Dialect { val name = "mysql" }

  /** Spark type → warehouse SQL type (both reference dialects emit the
    * same spellings for these five, agent-schema/app.py:36-44). */
  def sqlType(dt: DataType, dialect: Dialect = Postgres): String = dt match {
    case BooleanType                          => "BOOLEAN"
    case ByteType | ShortType | IntegerType | LongType => "INT"
    case FloatType | DoubleType               => "FLOAT"
    case TimestampType | TimestampNTZType | DateType => "TIMESTAMP"
    case _                                    => "VARCHAR(255)"
  }

  /** Identifier sanitization: hyphens and spaces → underscores
    * (reference agent-schema/app.py:110). */
  def sanitize(name: String): String = name.replaceAll("[\\- ]", "_")
}
