package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, ObjectType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One call of a stateless kernel — `kernel.method(args…, params…)` — as
  * a Catalyst expression, the way Spark's own built-ins plug in: a
  * `RuntimeReplaceable` whose `replacement` is a `StaticInvoke` into the
  * kernel object's static forwarder, wrapped in Spark's own converters
  * (`ArrayData.toArrayData` for `long[]`/`int[]`/`byte[][]`,
  * `UTF8String.fromString` for a string; `byte[]` is already the
  * internal binary form). The optimizer's `ReplaceExpressions` puts the
  * codegen'd `StaticInvoke` in the physical plan, while the analyzed plan
  * keeps `name(args)`, so auto-generated column names read
  * `graft_zstd_info(content)`.
  *
  * `args` are the column arguments (the children), checked EXACTLY
  * against `argTypes` — no implicit cast, a mismatch fails analysis with
  * `<name> requires a <type> argument, got <TYPE>`. String arguments
  * reach the kernel as `java.lang.String`. `params` are the literal
  * parameters appended after them. A null argument gives a null row. */
case class KernelCall(
    name: String,
    kernel: Class[_],
    method: String,
    outType: DataType,
    args: Seq[Expression],
    argTypes: Seq[DataType],
    params: Seq[Literal]) extends RuntimeReplaceable {

  override def prettyName: String = name
  override def children: Seq[Expression] = args
  override protected def flatArguments: Iterator[Any] = args.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    args.zip(argTypes).collectFirst { case (a, t) if a.dataType != t =>
      TypeCheckResult.TypeCheckFailure(
        s"$name requires a ${t.simpleString} argument, got ${a.dataType.sql}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  override lazy val replacement: Expression = {
    def java(e: Expression, t: DataType): Expression =
      if (t != StringType) e
      else Invoke(e, "toString", ObjectType(classOf[String]), returnNullable = false)
    val in = args.zip(argTypes).map { case (a, t) => java(a, t) } ++
      params.map(p => java(p, p.dataType))
    val call = StaticInvoke(kernel, outType match {
      case _: ArrayType => ObjectType(classOf[Object])
      case StringType => ObjectType(classOf[String])
      case t => t
    }, method, in, returnNullable = outType == StringType)
    outType match {
      case _: ArrayType =>
        StaticInvoke(classOf[ArrayData], outType, "toArrayData", Seq(call), returnNullable = false)
      case StringType => StaticInvoke(classOf[UTF8String], StringType, "fromString", Seq(call))
      case _ => call
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(args = newChildren)
}

object KernelCall {
  val LongArray: DataType = ArrayType(LongType, containsNull = false)

  /** The Column of `kernel.method(args…, params…)`; `kernel` is the
    * kernel object, each arg comes with the exact type it must have. */
  def column(name: String, kernel: AnyRef, method: String, outType: DataType,
      args: Seq[(Column, DataType)], params: Any*): Column =
    GraftShims.column(KernelCall(name, kernel.getClass, method, outType,
      args.map(a => GraftShims.expression(a._1)), args.map(_._2), params.map(Literal(_))))
}

/** The little-endian reads and writes the container kernels share.
  * Reads are unsigned (`le32` in a long; `le64` is the raw 64 bits) and
  * index the array directly, so a read past the end throws
  * `ArrayIndexOutOfBoundsException`, which the kernels bound-check
  * before or catch. */
object LittleEndian {
  def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  def le32(b: Array[Byte], i: Int): Long =
    le16(b, i).toLong | (le16(b, i + 2).toLong << 16)

  def le64(b: Array[Byte], i: Int): Long =
    le32(b, i) | (le32(b, i + 4) << 32)

  def writeLe16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }

  def writeLe32(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    writeLe16(out, v.toInt); writeLe16(out, (v >> 16).toInt)
  }

  def writeLe64(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    writeLe32(out, v); writeLe32(out, v >> 32)
  }
}
