package graft

import org.apache.spark.sql.functions._

import graft.ml.Vectors

/** The native vector-math expressions must be EXACT-BITS equal to the
  * HOF formulations they replaced — dot/cosine are IEEE folds whose
  * order determines the bits, and the q33/q34/q47/q51/q52 oracle rows
  * round those doubles, so any drift would surface as a hash mismatch
  * at some corpus. Compared with <=> on the raw doubles (no rounding). */
class VectorMathSpec extends SparkSpec {

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def pairs = {
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    a.join(b, col("ia") < col("ib") && col("ib") < col("ia") + 7)
  }

  test("native dot == HOF dot, exact bits, over corpus pairs") {
    val bad = pairs.select(
        graft.functions.VectorMath.dot(col("va"), col("vb")).as("nat"),
        Vectors.dotHof(col("va"), col("vb")).as("hof"))
      .where(not(col("nat") <=> col("hof"))).count()
    assert(bad == 0L)
  }

  test("native cosine == HOF cosine, exact bits, over corpus pairs") {
    val bad = pairs.select(
        graft.functions.VectorMath.cosine(col("va"), col("vb")).as("nat"),
        Vectors.cosineHof(col("va"), col("vb")).as("hof"))
      .where(not(col("nat") <=> col("hof"))).count()
    assert(bad == 0L)
  }

  test("native unit / unitQuant == HOF forms, exact bits, over corpus") {
    val bad = emb.select(
        graft.functions.VectorMath.unit(col("embedding")).as("nu"),
        Vectors.unitHof(col("embedding")).as("hu"),
        graft.functions.VectorMath.unitQuant(col("embedding")).as("nq"),
        Vectors.unitQuantHof(col("embedding")).as("hq"))
      .where(not(col("nu") <=> col("hu")) || not(col("nq") <=> col("hq")))
      .count()
    assert(bad == 0L)
  }

  test("native long dot == HOF long dot over quantized corpus") {
    val z = emb.select(
      graft.functions.VectorMath.unitQuant(col("embedding")).as("qz"))
    val bad = z.select(
        graft.functions.VectorMath.dotLong(col("qz"), col("qz")).as("nat"),
        Vectors.dotLongHof(col("qz"), col("qz")).as("hof"))
      .where(not(col("nat") <=> col("hof"))).count()
    assert(bad == 0L)
  }

  test("adversarial shapes: empty, zero vector, length mismatch, overflow") {
    import spark.implicits._
    // dot never divides, so it must match the HOF on EVERY shape
    val df = Seq(
      (Seq.empty[Double], Seq.empty[Double]),
      (Seq(0.0, 0.0), Seq(0.0, 0.0)),
      (Seq(1.0, 2.0), Seq(3.0, 4.0)),
      (Seq(1.0), Seq(1.0, 2.0)),
      (Seq(1e300, -1e300), Seq(1e300, 1e300))).toDF("a", "b")
    val badDot = df.select(
        graft.functions.VectorMath.dot(col("a"), col("b")).as("nd"),
        Vectors.dotHof(col("a"), col("b")).as("hd"))
      .where(not(col("nd") <=> col("hd"))).count()
    assert(badDot == 0L)
    // cosine/unit divide by the norm: under Spark 4's ANSI default the
    // HOF THROWS on a zero/empty norm, while the native expressions
    // keep IEEE semantics (NaN) — a divergence only reachable on
    // zero-norm vectors, which no operator feeds (they normalize real
    // embeddings). Pin equality on every nonzero shape, and pin the
    // native NaN behavior on the zero shapes.
    val nz = df.where(Vectors.dotHof(col("a"), col("a")) > 0.0 &&
      Vectors.dotHof(col("b"), col("b")) > 0.0)
    val badNz = nz.select(
        graft.functions.VectorMath.cosine(col("a"), col("b")).as("nc"),
        Vectors.cosineHof(col("a"), col("b")).as("hc"),
        graft.functions.VectorMath.unit(col("a")).as("nu"),
        Vectors.unitHof(col("a")).as("hu"))
      .where(not(col("nc") <=> col("hc")) || not(col("nu") <=> col("hu")))
      .count()
    assert(badNz == 0L)
    val zeroCos = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
      .select(graft.functions.VectorMath.cosine(col("a"), col("b")).as("c"))
      .head().getDouble(0)
    assert(zeroCos.isNaN)
  }

  test("long dot wraps on overflow where the ANSI HOF throws (pinned divergence)") {
    import spark.implicits._
    val df = Seq((Seq(Long.MaxValue), Seq(2L))).toDF("a", "b")
    val nat = df.select(graft.functions.VectorMath.dotLong(col("a"), col("b")))
      .head().getLong(0)
    assert(nat == Long.MaxValue * 2L && nat == -2L)
    val e = intercept[Exception](
      df.select(Vectors.dotLongHof(col("a"), col("b"))).head())
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("ARITHMETIC_OVERFLOW")), e)
  }
}
