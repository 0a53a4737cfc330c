package graft.expr

import graft.core.Ring
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Driver-built zone index: a primitive open-addressing table from a
  * Morton cell to the contiguous run of (fid, hull rings, hole rings)
  * entries whose ring bboxes cover that cell.
  *
  * `probe` returns the fids whose zone contains the point — inside ⇔ in
  * ≥1 hull ring and in 0 hole rings, each ring tested by the scalar
  * winding-parity kernel `PointInPolygon.pointInPoly`. The returned arrays
  * are shared and must never be mutated: one empty array for every miss,
  * and one prebuilt single-fid array per entry for the common one-hit case,
  * so a probe allocates only when two zones overlap at the point. */
final class ZoneIndex private (
    keys: Array[Long], slotCell: Array[Int], runStart: Array[Int],
    fids: Array[Int], single: Array[ArrayData],
    hxs: Array[Array[Array[Double]]], hys: Array[Array[Array[Double]]],
    oxs: Array[Array[Array[Double]]], oys: Array[Array[Array[Double]]])
    extends Serializable {

  private val mask = keys.length - 1
  private val shift = 64 - Integer.numberOfTrailingZeros(keys.length)

  def probe(cell: Long, x: Double, y: Double): ArrayData = {
    var s = ZoneIndex.slot(cell, shift)
    while (slotCell(s) >= 0 && keys(s) != cell) s = (s + 1) & mask
    val k = slotCell(s)
    if (k < 0) return ZoneIndex.Empty
    val end = runStart(k + 1)
    var first = -1
    var more: Array[Int] = null
    var n = 0
    var e = runStart(k)
    while (e < end) {
      if (ZoneIndex.anyInside(x, y, hxs(e), hys(e)) &&
          !ZoneIndex.anyInside(x, y, oxs(e), oys(e))) {
        if (first < 0) first = e
        else {
          if (more == null) { more = new Array[Int](end - first); more(0) = fids(first); n = 1 }
          more(n) = fids(e); n += 1
        }
      }
      e += 1
    }
    if (first < 0) ZoneIndex.Empty
    else if (more == null) single(first)
    else UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(more, n))
  }

  override def toString: String = s"ZoneIndex(${runStart.length - 1} cells, ${fids.length} entries)"
}

object ZoneIndex {
  private val Empty: ArrayData = UnsafeArrayData.fromPrimitiveArray(new Array[Int](0))

  private def slot(cell: Long, shift: Int): Int = ((cell * 0x9E3779B97F4A7C15L) >>> shift).toInt

  private def anyInside(x: Double, y: Double,
                        xss: Array[Array[Double]], yss: Array[Array[Double]]): Boolean = {
    var r = 0
    while (r < xss.length) {
      if (PointInPolygon.pointInPoly(x, y, xss(r), yss(r))) return true
      r += 1
    }
    false
  }

  /** Build from (cell, fid, rings of that fid covering the cell) groups;
    * each (cell, fid) pair must appear once. Entries are ordered by
    * (cell, fid), so a probe reports overlapping fids in ascending order. */
  def build(groups: Seq[(Long, Int, Seq[Ring])]): ZoneIndex = {
    val entries = groups.sortBy(g => (g._1, g._2)).toArray
    val cells = entries.map(_._1).distinct
    val cap = Integer.highestOneBit(math.max(2, cells.length * 2) - 1) << 1
    val keys = new Array[Long](cap)
    val slotCell = Array.fill(cap)(-1)
    val shift = 64 - Integer.numberOfTrailingZeros(cap)
    cells.indices.foreach { k =>
      var s = slot(cells(k), shift)
      while (slotCell(s) >= 0) s = (s + 1) & (cap - 1)
      keys(s) = cells(k)
      slotCell(s) = k
    }
    // entries are sorted by cell, so cell k's run starts at the k-th cell
    // change and ends where run k + 1 starts
    val runStart = new Array[Int](cells.length + 1)
    var k = 0
    entries.indices.foreach { e =>
      if (e == 0 || entries(e)._1 != entries(e - 1)._1) { runStart(k) = e; k += 1 }
    }
    runStart(cells.length) = entries.length
    def rings(hole: Boolean, f: Ring => Array[Double]) =
      entries.map(_._3.filter(_.isHole == hole).map(f).toArray)
    val fids = entries.map(_._2)
    new ZoneIndex(keys, slotCell, runStart, fids,
      fids.map(f => UnsafeArrayData.fromPrimitiveArray(Array(f)): ArrayData),
      rings(hole = false, _.xs), rings(hole = false, _.ys),
      rings(hole = true, _.xs), rings(hole = true, _.ys))
  }
}

/** ZoneProbe(cell, lon, lat): `array<int>` of the fids whose zone contains
  * the point, looked up in a driver-built `ZoneIndex` keyed by the point's
  * Morton cell. No join or broadcast exchange is planned: the index
  * travels inside the expression (codegen references it via
  * `addReferenceObj`, so the generated class is shared across indexes),
  * and `explode` turns the result into one row per (page, zone). */
case class ZoneProbe(cell: Expression, lon: Expression, lat: Expression, index: ZoneIndex)
    extends TernaryExpression {

  override def first: Expression = cell
  override def second: Expression = lon
  override def third: Expression = lat

  override def checkInputDataTypes(): TypeCheckResult =
    if (cell.dataType == LongType && lon.dataType == DoubleType && lat.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_zone_probe expects (bigint, double, double)")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_zone_probe"

  override def nullSafeEval(c: Any, x: Any, y: Any): Any =
    index.probe(c.asInstanceOf[Long], x.asInstanceOf[Double], y.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("zoneIndex", index, classOf[ZoneIndex].getName)
    defineCodeGen(ctx, ev, (c, x, y) => s"$idx.probe($c, $x, $y)")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(cell = f, lon = s, lat = t)
}

object ZoneProbe {
  def zoneProbe(cell: Column, lon: Column, lat: Column, index: ZoneIndex): Column =
    Shim.column(ZoneProbe(Shim.expression(cell), Shim.expression(lon),
      Shim.expression(lat), index))
}
