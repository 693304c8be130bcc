package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions._

/** ns/row of one kernel through a generated and an interpreted
  * UnsafeProjection over the same rows. `fallback` marks kernels that
  * implement no `doGenCode`: their generated projection calls `eval`. */
final case class KernelTiming(name: String, codegenNsPerRow: Double,
                              interpretedNsPerRow: Double, fallback: Boolean,
                              projectionClass: String)

/** Times each custom Catalyst kernel of `graft.expressions` directly,
  * outside any query, over fixed rows drawn from the workload's fixtures. */
object Kernels {
  private val Vocab = ("a the key agg row scan slow fast table value part hash merge " +
    "batch spark line sort window order column data join small customer query " +
    "stream filter big vector group").split(" ")
  val Buckets = 1 << 16

  /** Input row layout every kernel reads from. */
  private val schema = Seq(
    "text" -> StringType,
    "emb" -> ArrayType(FloatType, containsNull = false),
    "emb2" -> ArrayType(FloatType, containsNull = false),
    "ts" -> TimestampType,
    "a" -> LongType,
    "b" -> LongType,
    "bkts" -> ArrayType(LongType, containsNull = false),
    "cnts" -> ArrayType(LongType, containsNull = false),
    "ids" -> ArrayType(IntegerType, containsNull = false),
    "q8" -> ArrayType(ByteType, containsNull = false),
    "q8b" -> ArrayType(ByteType, containsNull = false))
  private def ref(name: String): BoundReference = {
    val i = schema.indexWhere(_._1 == name)
    BoundReference(i, schema(i)._2, nullable = false)
  }

  /** `n` input rows built from the fixture tables under `sfDir`. */
  def inputRows(spark: SparkSession, sfDir: String, n: Int): Array[InternalRow] = {
    val docs = graft.GraftSession.table(spark, sfDir, "documents")
      .orderBy("doc_id").select("text").limit(n).collect().map(_.getString(0))
    val embs = graft.GraftSession.table(spark, sfDir, "embeddings")
      .orderBy("vec_id").select("embedding").limit(n).collect()
      .map(_.getSeq[Float](0).toArray)
    val evs = graft.GraftSession.table(spark, sfDir, "events")
      .orderBy("event_id").select("ts", "user_id", "event_id").limit(n).collect()
    val bucketer = HashedNgramBuckets(ref("text"), Buckets)
    val quant = QuantizeInt8Vec(ref("emb"))
    val quant2 = QuantizeInt8Vec(ref("emb2"))
    val vocabIdx = Vocab.zipWithIndex.toMap
    (0 until n).map { i =>
      val text = docs(i % docs.length)
      val emb = embs(i % embs.length)
      val emb2 = embs((i + 1) % embs.length)
      val ev = evs(i % evs.length)
      val base = new GenericInternalRow(schema.size)
      base.update(0, UTF8String.fromString(text))
      base.update(1, ArrayData.toArrayData(emb))
      base.update(2, ArrayData.toArrayData(emb2))
      base.update(3, DateTimeUtils.fromJavaTimestamp(ev.getTimestamp(0)))
      base.update(4, ev.getLong(1))
      base.update(5, ev.getLong(2))
      val bc = bucketer.eval(base).asInstanceOf[InternalRow]
      base.update(6, bc.getArray(0).copy())
      base.update(7, bc.getArray(1).copy())
      base.update(8, new GenericArrayData(
        text.split(" ").map(w => vocabIdx.getOrElse(w, 0): Any)))
      base.update(9, quant.eval(base).asInstanceOf[InternalRow].getArray(0).copy())
      base.update(10, quant2.eval(base).asInstanceOf[InternalRow].getArray(0).copy())
      base: InternalRow
    }.toArray
  }

  /** The 17 kernels, each bound to the input row layout. */
  def kernels(spark: SparkSession): Seq[Expression] = {
    val rnd = new scala.util.Random(17)
    val weights = Array.fill(Buckets)(rnd.nextDouble())
    def mat(rows: Int, cols: Int) = Array.fill(rows, cols)(rnd.nextGaussian() * 0.1)
    Seq(
      MortonCode(ref("a"), ref("b")),
      WordShingles(ref("text"), 2),
      CharNgramCounts(ref("text"), 3),
      WordNgramCounts(ref("text")),
      HashedNgramBuckets(ref("text"), Buckets),
      WsVocabTokenCounts(ref("text"), Vocab.toSeq.take(12)),
      WeightedBucketDot(ref("bkts"), ref("cnts"), weights),
      WeightedBucketDotBroadcast(ref("bkts"), ref("cnts"), spark.sparkContext.broadcast(weights)),
      VocabDecodeConcat(ref("ids"), Vocab),
      UnicodeNormalize(ref("text"), "NFC"),
      EpochMicrosExpr(ref("ts")),
      VecDotProduct(ref("emb"), ref("emb2")),
      VecDotProductInt(ref("q8"), ref("q8b")),
      QuantizeInt8Vec(ref("emb")),
      PqEncodeVec(ref("emb"), Array.fill(8)(mat(16, 8))),
      NearestCentroidVec(ref("emb"), mat(16, 64)),
      RandomProjectVec(ref("emb"), 16, 7L))
  }

  /** Runs `project` over `rows` repeatedly for at least `ms` milliseconds;
    * returns ns per row. */
  private def runFor(project: InternalRow => Any, rows: Array[InternalRow], ms: Long): Double = {
    var n = 0L
    var nonNull = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < ms * 1000000L) {
      var i = 0
      while (i < rows.length) { if (project(rows(i)) != null) nonNull += 1; i += 1 }
      n += rows.length
    }
    val ns = (System.nanoTime() - t0).toDouble / n
    if (nonNull < 0) println(nonNull)
    ns
  }

  /** Both projections are warmed before either is timed, so neither is
    * measured while the JIT still compiles the kernel's own methods; each
    * reading is the median of five 10 ms runs. */
  def time(e: Expression, rows: Array[InternalRow]): KernelTiming = {
    val gen = GenerateUnsafeProjection.generate(Seq(e), false)
    val interp = InterpretedUnsafeProjection.createProjection(Seq(e))
    (0 until 2).foreach { _ => runFor(gen.apply, rows, 50); runFor(interp.apply, rows, 50) }
    def median(p: InternalRow => Any) = Stats.median((0 until 5).map(_ => runFor(p, rows, 10)))
    KernelTiming(e.getClass.getSimpleName, median(gen.apply), median(interp.apply),
      e.isInstanceOf[CodegenFallback], gen.getClass.getName)
  }

  def run(spark: SparkSession, sfDir: String, nRows: Int = 256): Seq[KernelTiming] = {
    val rows = inputRows(spark, sfDir, nRows)
    kernels(spark).map(time(_, rows))
  }
}
