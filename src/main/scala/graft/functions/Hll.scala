package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate COUNT(DISTINCT) of one column or of a tuple of columns,
  * on Spark's built-in DataSketches HLL (`hll_sketch_agg`).
  *
  * Why not `approx_count_distinct`: Spark's HyperLogLog++ is an
  * `ImperativeAggregate` that keeps its registers as ⌈2^p/10⌉ long
  * fields of the aggregation buffer — 410 fields at rsd 0.02 (p = 12) —
  * so each sketch widens the partial aggregate's row by 410 columns. A
  * six-column profile's partial aggregate outputs 2,467 fields. That
  * aggregate runs outside whole-stage codegen, and every task generates
  * projections over all those fields: the time goes to Spark's code
  * generator, not to the sketch, so the cost grows with p, not rows.
  * `hll_sketch_agg` is a `TypedImperativeAggregate`: its buffer is ONE
  * binary field per sketch, planned as an ObjectHashAggregate, whatever
  * the register count.
  */
object Hll {

  /** The lgConfigK range `hll_sketch_agg` accepts. */
  private val MinLgK = 4
  private val MaxLgK = 21

  /** Smallest lgK whose DataSketches relative standard error, 1.04/√K,
    * is at most `rsd`: ⌈log2((1.04/rsd)²)⌉. rsd 0.02 gives lgK 12, the
    * 4096 buckets HyperLogLog++ uses at the same rsd.
    */
  def lgK(rsd: Double): Int = {
    val k = math.ceil(2 * math.log(1.04 / rsd) / math.log(2)).toInt
    require(rsd > 0 && k >= MinLgK && k <= MaxLgK,
      s"rsd $rsd needs lgK $k, outside the lgK range [$MinLgK, $MaxLgK] hll_sketch_agg allows")
    k
  }

  /** Approximate number of distinct `cols` tuples, relative standard
    * error ≤ `rsd`. A tuple with any NULL member is not counted
    * (COUNT(DISTINCT) semantics) and an empty input gives 0. The sketch
    * takes the tuple's xxhash64, so a column whose type contains a map
    * must go through [[hashable]] first.
    */
  def approxDistinct(rsd: Double, cols: Column*): Column = {
    val anyNull = cols.map(_.isNull).reduce(_ || _)
    hll_sketch_estimate(hll_sketch_agg(when(!anyNull, xxhash64(cols: _*)), lgK(rsd)))
  }

  /** `name` as a column xxhash64 accepts. xxhash64 rejects map types
    * (DATATYPE_MISMATCH.HASH_MAP_TYPE), so a type that contains a map is
    * hashed through its JSON text; like HyperLogLog++'s own map hash,
    * that is sensitive to entry order.
    */
  def hashable(name: String, dataType: DataType): Column =
    if (hasMap(dataType)) to_json(col(name)) else col(name)

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}
