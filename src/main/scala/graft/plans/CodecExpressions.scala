package graft.plans

import graft.core.{BlockCompression, ByteBuf, BytesIn, Fsst, RleV2Reader, RleV2Writer, ZlibBlock}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** SQL-facing scalar codecs (SURVEY §4 "optional Column functions for
  * fsst_compress / rle_encode if we expose SQL") — each a native Catalyst
  * expression with a codegen body calling a static kernel, so they stay
  * inside WholeStageCodegen instead of falling back to a Scala UDF.
  *
  * Semantics are self-contained per value:
  *  - fsst_compress(BINARY) → BINARY envelope [symbol table][codes];
  *    fsst_decompress inverts. (The chunk encoder amortizes one table per
  *    partition — this scalar form trains per value and exists for ad-hoc
  *    SQL and interop tests.)
  *  - rle_encode(ARRAY<BIGINT>) → BINARY signed ORC RLEv2; rle_decode
  *    inverts (the stream is self-terminating, count comes from headers).
  *  - zlib_block / zlib_unblock: the ORC 3-byte-framed deflate blocks.
  */
object CodecKernels {
  def fsstCompress(data: Array[Byte]): Array[Byte] = {
    val table = Fsst.train(data)
    val out = new ByteBuf(data.length / 2 + 64)
    table.serialize(out)
    Fsst.compress(table, data, out)
    out.toArray
  }

  def fsstDecompress(env: Array[Byte]): Array[Byte] = {
    val in = new BytesIn(env)
    val table = Fsst.SymbolTable.deserialize(in)
    val n = Fsst.decodedLength(table, env, in.pos, env.length)
    val out = new Array[Byte](n + 8)
    Fsst.decompressInto(table, env, in.pos, env.length, out, 0)
    java.util.Arrays.copyOf(out, n)
  }

  def rleEncode(values: ArrayData): Array[Byte] = {
    // toLongArray on an array with null elements reads garbage (unsafe
    // layout) or NPEs (generic) — fail loudly instead
    var i = 0
    val n = values.numElements()
    while (i < n) {
      if (values.isNullAt(i))
        throw new IllegalArgumentException(s"rle_encode: null element at index $i (array<bigint> must be null-free)")
      i += 1
    }
    val out = new ByteBuf(n + 16)
    RleV2Writer.write(out, values.toLongArray(), signed = true, aligned = false)
    out.toArray
  }

  def rleDecode(data: Array[Byte]): ArrayData = {
    val longs = RleV2Reader.readAll(new BytesIn(data), signed = true)
    new GenericArrayData(longs)
  }

  def zlibBlock(data: Array[Byte]): Array[Byte] = ZlibBlock.compress(data)
  def zlibUnblock(data: Array[Byte]): Array[Byte] = ZlibBlock.decompress(data)

  def zstdBlock(data: Array[Byte]): Array[Byte] =
    BlockCompression.compress(BlockCompression.Zstd, data)
  def zstdUnblock(data: Array[Byte]): Array[Byte] =
    BlockCompression.decompress(BlockCompression.Zstd, data)
  def lz4Block(data: Array[Byte]): Array[Byte] =
    BlockCompression.compress(BlockCompression.Lz4, data)
  def lz4Unblock(data: Array[Byte]): Array[Byte] =
    BlockCompression.decompress(BlockCompression.Lz4, data)
}

sealed abstract class CodecExpr(kernel: String, in: DataType, out: DataType)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = out

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == in)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects $in, got ${child.dataType}")

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.CodecKernels.$kernel($c);")
}

case class FsstCompressExpr(child: Expression)
    extends CodecExpr("fsstCompress", BinaryType, BinaryType) {
  override def nullSafeEval(v: Any): Any = CodecKernels.fsstCompress(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "fsst_compress"
}

case class FsstDecompressExpr(child: Expression)
    extends CodecExpr("fsstDecompress", BinaryType, BinaryType) {
  override def nullSafeEval(v: Any): Any = CodecKernels.fsstDecompress(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "fsst_decompress"
}

case class RleEncodeExpr(child: Expression)
    extends CodecExpr("rleEncode", ArrayType(LongType, containsNull = false), BinaryType) {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"rle_encode expects array<bigint>, got $dt")
    }
  override def nullSafeEval(v: Any): Any = CodecKernels.rleEncode(v.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "rle_encode"
}

case class RleDecodeExpr(child: Expression)
    extends CodecExpr("rleDecode", BinaryType, ArrayType(LongType, containsNull = false)) {
  override def nullSafeEval(v: Any): Any = CodecKernels.rleDecode(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "rle_decode"
}

case class ZlibBlockExpr(child: Expression)
    extends CodecExpr("zlibBlock", BinaryType, BinaryType) {
  override def nullSafeEval(v: Any): Any = CodecKernels.zlibBlock(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "zlib_block"
}

case class ZlibUnblockExpr(child: Expression)
    extends CodecExpr("zlibUnblock", BinaryType, BinaryType) {
  override def nullSafeEval(v: Any): Any = CodecKernels.zlibUnblock(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "zlib_unblock"
}

case class ZstdBlockExpr(child: Expression)
    extends CodecExpr("zstdBlock", BinaryType, BinaryType) {
  override def nullSafeEval(v: Any): Any = CodecKernels.zstdBlock(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "zstd_block"
}

case class ZstdUnblockExpr(child: Expression)
    extends CodecExpr("zstdUnblock", BinaryType, BinaryType) {
  override def nullSafeEval(v: Any): Any = CodecKernels.zstdUnblock(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "zstd_unblock"
}

case class Lz4BlockExpr(child: Expression)
    extends CodecExpr("lz4Block", BinaryType, BinaryType) {
  override def nullSafeEval(v: Any): Any = CodecKernels.lz4Block(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "lz4_block"
}

case class Lz4UnblockExpr(child: Expression)
    extends CodecExpr("lz4Unblock", BinaryType, BinaryType) {
  override def nullSafeEval(v: Any): Any = CodecKernels.lz4Unblock(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "lz4_unblock"
}
