package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, Decimal, FloatType, IntegerType}
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String, VariantVal}

/** Zero-copy `ArrayData` views over primitive arrays produced by the
  * generator expressions ([[TokenGen]], [[EmbedGen]]) and over the packed
  * token bytes read by [[UnpackTokens]].
  *
  * Why: `ArrayData.toArrayData(int[])` routes through
  * `UnsafeArrayData.fromPrimitiveArray`, which copies the whole payload
  * into a fresh long-aligned buffer — for the 2 KB/row token arrays that
  * copy was 17% of the map stage's execution samples (JFR, round 4), and
  * pure memory-write traffic is exactly what inflates at the 16-thread
  * level of the scaling pair. Downstream consumers read element-wise
  * (`getInt`/`getFloat` — codegen'd expressions, UnsafeWriter's
  * element loop), so a plain array-backed view serves them at direct
  * array-access speed with zero copies.
  *
  * Contract: elements are non-null (`isNullAt` = false), and the backing
  * array is NEVER mutated while a view over it is reachable — it is
  * either freshly allocated by the producer or, for [[UInt16ArrayData]],
  * a binary value Spark already treats as immutable. `copy()` clones the
  * backing array so buffering consumers (aggregates) stay independent.
  * Mutators throw — these are value views, not buffers.
  */
abstract class PrimitiveArrayData extends ArrayData {
  override def isNullAt(i: Int): Boolean = false
  override def setNullAt(i: Int): Unit =
    throw new UnsupportedOperationException("immutable view")
  override def update(i: Int, value: Any): Unit =
    throw new UnsupportedOperationException("immutable view")

  protected def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(s"$what on ${getClass.getSimpleName}")

  override def getBoolean(i: Int): Boolean = unsupported("getBoolean")
  override def getByte(i: Int): Byte = unsupported("getByte")
  override def getShort(i: Int): Short = unsupported("getShort")
  override def getDecimal(i: Int, p: Int, s: Int): Decimal = unsupported("getDecimal")
  override def getUTF8String(i: Int): UTF8String = unsupported("getUTF8String")
  override def getBinary(i: Int): Array[Byte] = unsupported("getBinary")
  override def getInterval(i: Int): CalendarInterval = unsupported("getInterval")
  override def getVariant(i: Int): VariantVal = unsupported("getVariant")
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    unsupported("getGeography")
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    unsupported("getGeometry")
  override def getStruct(i: Int, n: Int): org.apache.spark.sql.catalyst.InternalRow =
    unsupported("getStruct")
  override def getArray(i: Int): ArrayData = unsupported("getArray")
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    unsupported("getMap")
}

final class IntArrayData(val values: Array[Int]) extends PrimitiveArrayData {
  override def numElements(): Int = values.length
  override def getInt(i: Int): Int = values(i)
  override def getLong(i: Int): Long = values(i).toLong
  override def getFloat(i: Int): Float = values(i).toFloat
  override def getDouble(i: Int): Double = values(i).toDouble
  override def get(i: Int, dt: DataType): AnyRef = dt match {
    case IntegerType => Integer.valueOf(values(i))
    case _ => unsupported(s"get($dt)")
  }
  override def copy(): ArrayData = new IntArrayData(values.clone())
  override def array: Array[Any] = values.map(v => v: Any)
  override def toIntArray(): Array[Int] = values.clone()
  override def toString: String = values.mkString("[", ",", "]")
}

/** `array<int>` view over the [[PackTokens]] transport encoding: element
  * `i` is the little-endian uint16 at bytes `2i, 2i+1`, decoded on every
  * `getInt` (a trailing odd byte is ignored). Reads the same values as an
  * [[IntArrayData]] over the decoded ints without allocating or filling
  * one; relies on the contract above — the packed bytes must not change
  * while the view is in use. */
final class UInt16ArrayData(val bytes: Array[Byte]) extends PrimitiveArrayData {
  override def numElements(): Int = bytes.length / 2
  override def getInt(i: Int): Int = Uint16LE.get(bytes, 2 * i)
  override def getLong(i: Int): Long = getInt(i).toLong
  override def getFloat(i: Int): Float = getInt(i).toFloat
  override def getDouble(i: Int): Double = getInt(i).toDouble
  override def get(i: Int, dt: DataType): AnyRef = dt match {
    case IntegerType => Integer.valueOf(getInt(i))
    case _ => unsupported(s"get($dt)")
  }
  override def copy(): ArrayData = new UInt16ArrayData(bytes.clone())
  override def array: Array[Any] = toIntArray().map(v => v: Any)
  override def toIntArray(): Array[Int] = {
    val out = new Array[Int](numElements())
    var i = 0
    while (i < out.length) { out(i) = getInt(i); i += 1 }
    out
  }
  override def toString: String = toIntArray().mkString("[", ",", "]")
}

final class FloatArrayData(val values: Array[Float]) extends PrimitiveArrayData {
  override def numElements(): Int = values.length
  override def getFloat(i: Int): Float = values(i)
  override def getDouble(i: Int): Double = values(i).toDouble
  override def getInt(i: Int): Int = unsupported("getInt")
  override def getLong(i: Int): Long = unsupported("getLong")
  override def get(i: Int, dt: DataType): AnyRef = dt match {
    case FloatType => java.lang.Float.valueOf(values(i))
    case _ => unsupported(s"get($dt)")
  }
  override def copy(): ArrayData = new FloatArrayData(values.clone())
  override def array: Array[Any] = values.map(v => v: Any)
  override def toFloatArray(): Array[Float] = values.clone()
  override def toString: String = values.mkString("[", ",", "]")
}
