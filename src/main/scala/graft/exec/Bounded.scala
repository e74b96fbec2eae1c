package graft.exec

import scala.collection.mutable.ArrayBuffer
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
  * [[distributedOnly]]).
  *
  * Every probe makes one [[Decision]]: the operator's label, `driver` or the
  * reason it declined ([[Forced]], [[Schema]], [[Empty]], [[OverBound]],
  * [[NullKey]]), and the rows it collected. Inside [[recording]] the
  * decisions are kept and returned; outside it nothing is kept. */
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

  /** The path of a probe that the driver took. */
  val Driver = "driver"
  /** Decline reasons: inside [[distributedOnly]]; a column the caller cannot
    * decode; no rows; more than the bound; a null key. */
  val Forced = "forced"; val Schema = "schema"; val Empty = "empty"
  val OverBound = "over_bound"; val NullKey = "null_key"

  /** One probe: the operator, [[Driver]] or the decline reason, and the rows
    * collected (0 when no collect ran). */
  final case class Decision(label: String, path: String, rows: Int)

  private val forceDistributed = new DynamicVariable(false)
  private val decisions = new DynamicVariable[Option[ArrayBuffer[Decision]]](None)

  /** Runs `body` with every [[collect]] declining, so each operator called
    * inside takes its distributed path: the reference side of the
    * fast-path parity specs, and the distributed half of
    * `graft.tools.SweepTime`'s per-query timings. */
  private[graft] def distributedOnly[T](body: => T): T =
    forceDistributed.withValue(true)(body)

  /** Runs `body` and returns its result with the [[Decision]] of every probe
    * made inside it, in order: how a spec tells which path each operator
    * took, and why. */
  private[graft] def recording[T](body: => T): (T, Seq[Decision]) = {
    val log = ArrayBuffer.empty[Decision]
    (decisions.withValue(Some(log))(body), log.toSeq)
  }

  /** The rows of `df`, from one `limit(bound + 1)` collect, when the driver
    * can replay them: `types` accept the columns one to one, and there are
    * 1 to `bound` rows, none holding a null outside an [[orNull]] column.
    * Otherwise None, and the caller runs its distributed loop: a relation
    * above the bound costs one bounded job, and nothing above `bound + 1`
    * rows reaches the driver. A null key would be dropped by the
    * distributed joins, but not by a driver replay keyed on it, so nulls
    * decline. `label` names the operator in its [[Decision]]. */
  def collect(label: String, df: DataFrame, bound: Int, types: ColumnType*): Option[Array[Row]] =
    collectAs(label, df, bound, types: _*)(Right(_))

  /** [[collect]], then `decode` the rows, which may still decline with a
    * reason only the caller can see (Left): the probe's one [[Decision]] is
    * that reason. */
  def collectAs[T](label: String, df: DataFrame, bound: Int, types: ColumnType*)(
      decode: Array[Row] => Either[String, T]): Option[T] = {
    val fields = df.schema.fields
    val keys = types.indices.filterNot(i => types(i).isInstanceOf[OrNull])
    val (verdict, probed): (Either[String, T], Int) =
      if (forceDistributed.value) (Left(Forced), 0)
      else if (fields.length != types.length ||
          fields.zip(types).exists { case (f, accepts) => !accepts(f.dataType) }) (Left(Schema), 0)
      else {
        val rows = df.limit(bound + 1).collect()
        (if (rows.isEmpty) Left(Empty)
         else if (rows.length > bound) Left(OverBound)
         else if (rows.exists(r => keys.exists(r.isNullAt))) Left(NullKey)
         else decode(rows), rows.length)
      }
    decisions.value.foreach(_ += Decision(label, verdict.fold(identity, _ => Driver), probed))
    verdict.toOption
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
