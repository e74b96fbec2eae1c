package graft.exec

import scala.util.DynamicVariable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.graph.GraphBuilder.sparkStringOrdering

/** The one probe behind the operators' driver fast paths. Post-aggregation
  * relations (an entity graph's edges, a dedup pair list, a small training
  * corpus) often fit on the driver, where one collect plus a replay of the
  * distributed loop's exact integer arithmetic beats a loop of Spark jobs.
  * Each fast path asks [[collect]] for the rows; on `None` it runs its
  * unchanged distributed loop, so the output must not depend on which path
  * ran (the parity specs compare each operator against itself inside
  * [[distributedOnly]]). */
object Bounded {

  /** Accepts the Spark type of one probed column. */
  type ColumnType = DataType => Boolean

  val Str: ColumnType = Set[DataType](StringType)
  val Lng: ColumnType = Set[DataType](LongType)
  /** A key the driver orders exactly as Spark does ([[keyOrdering]]). */
  val Key: ColumnType = Set[DataType](LongType, IntegerType, StringType)
  def arrayOf(elem: ColumnType): ColumnType = {
    case ArrayType(t, _) => elem(t)
    case _               => false
  }

  /** A column of `accepts` whose nulls the caller replays as values (an
    * entity's missing type), not as keys: [[collect]] keeps rows that hold
    * a null there. */
  def orNull(accepts: ColumnType): ColumnType = OrNull(accepts)
  private final case class OrNull(accepts: ColumnType) extends ColumnType {
    def apply(t: DataType): Boolean = accepts(t)
  }

  private val forceDistributed = new DynamicVariable(false)

  /** Runs `body` with every [[collect]] declining, so each operator called
    * inside takes its distributed path: the reference side of the
    * fast-path parity specs. */
  private[graft] def distributedOnly[T](body: => T): T =
    forceDistributed.withValue(true)(body)

  /** The rows of `df`, from one `limit(bound + 1)` collect, when the driver
    * can replay them: `types` accept the columns one to one, and there are
    * 1 to `bound` rows, none holding a null outside an [[orNull]] column.
    * Otherwise None, and the caller runs its distributed loop: a relation
    * above the bound costs one bounded job, and nothing above `bound + 1`
    * rows reaches the driver. A null key would be dropped by the
    * distributed joins, but not by a driver replay keyed on it, so nulls
    * decline. */
  def collect(df: DataFrame, bound: Int, types: ColumnType*): Option[Array[Row]] = {
    val fields = df.schema.fields
    if (forceDistributed.value || fields.length != types.length ||
        fields.zip(types).exists { case (f, accepts) => !accepts(f.dataType) }) return None
    val keys = types.indices.filterNot(i => types(i).isInstanceOf[OrNull])
    val rows = df.limit(bound + 1).collect()
    if (rows.length > bound || rows.isEmpty || rows.exists(r => keys.exists(r.isNullAt))) None
    else Some(rows)
  }

  /** Spark's order on [[Key]] values, driver-side: numbers numerically,
    * strings in [[sparkStringOrdering]] (UTF-8 byte order, not
    * `String.compareTo`). */
  val keyOrdering: Ordering[Any] = (x: Any, y: Any) => (x, y) match {
    case (a: Long, b: Long)     => java.lang.Long.compare(a, b)
    case (a: Int, b: Int)       => Integer.compare(a, b)
    case (a: String, b: String) => sparkStringOrdering.compare(a, b)
    case _ => throw new IllegalArgumentException(
      s"no driver order for keys of ${x.getClass} and ${y.getClass}")
  }
}
