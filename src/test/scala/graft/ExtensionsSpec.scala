package graft

import org.apache.spark.sql.{GraftColumnBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite with SparkFixture {

  test("GraftExtensions injects all functions into a fresh registry") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val reg = GraftColumnBridge.freshRegistryWith(ext)
    for (name <- graft.functions.GraftFunctions.builders.keys)
      assert(reg.functionExists(FunctionIdentifier(name)),
        s"$name not injected")
  }

  test("GraftFunctions.register is idempotent: a repeat call re-binds nothing") {
    import graft.functions.GraftFunctions
    val fresh = spark.newSession()
    val registry = fresh.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val names = GraftFunctions.builders.keys.toSeq.sorted
    // a re-bind stores a new ExpressionInfo even for the same builder
    def infos = names.map(n => registry.lookupFunction(FunctionIdentifier(n)))
    assert(infos.forall(_.isEmpty))
    GraftFunctions.register(fresh)
    val first = infos
    for (n <- names) assert(GraftColumnBridge.functionBuilder(fresh, n)
      .exists(_ eq GraftFunctions.builders(n)), n)
    GraftFunctions.register(fresh)
    assert(infos.zip(first).forall { case (a, b) => a.get eq b.get })
  }

  test("SQL count_min + count_min_estimate through the registry match the Column API") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    Seq("x", "x", "y", "x", "z", "y").toDF("t").createOrReplaceTempView("cm1")
    val viaSql = spark.sql(
      """SELECT count_min_estimate(sk, 'x', 4, 64) AS nx,
        |       count_min_estimate(sk, 'z', 4, 64) AS nz,
        |       count_min_estimate(sk, 'absent', 4, 64) AS na
        |FROM (SELECT count_min(t, 4, 64) AS sk FROM cm1)""".stripMargin)
      .head()
    assert((viaSql.getLong(0), viaSql.getLong(1), viaSql.getLong(2)) ===
      ((3L, 1L, 0L)))
    // depth/width must be literals (they size the sketch at plan time)
    val e = intercept[Exception](
      spark.sql("SELECT count_min(t, length(t), 64) FROM cm1").collect())
    assert(e.getMessage.contains("count_min"))
  }

  test("SQL heavy_hitters through the session registry matches the Column API") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    Seq("x", "x", "y", "x", "z", "y").toDF("t").createOrReplaceTempView("hh1")
    val viaSql = spark.sql(
      "SELECT heavy_hitters(t, 8) AS hh FROM hh1")
      .as[Seq[(String, Long)]].head()
    assert(viaSql === Seq(("x", 3L), ("y", 2L), ("z", 1L)))
    // capacity must be a literal
    val e = intercept[Exception](
      spark.sql("SELECT heavy_hitters(t, length(t)) FROM hh1").collect())
    assert(e.getMessage.contains("heavy_hitters"))
  }

  test("interpreted and codegen'd hashed_shingles agree; SQL door matches Column API") {
    import graft.functions.HashedShingles
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val in = "one two three two one two three four"
    val expr = HashedShingles(org.apache.spark.sql.catalyst.expressions
      .Literal(UTF8String.fromString(in), StringType), 3)
    val interpreted = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray
    // 6 trigram positions, "one two three" repeats → 5 distinct
    assert(interpreted.length === 5)
    assert(interpreted.distinct.length === 5)
    val proj = org.apache.spark.sql.catalyst.expressions.codegen
      .GenerateUnsafeProjection.generate(
        Seq(HashedShingles(BoundReference(0, StringType, nullable = true), 3)))
    val row = org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString(in))
    assert(proj(row).getArray(0).toLongArray.toSeq === interpreted.toSeq)
    // null input → EMPTY array (not null), through codegen too
    assert(proj(org.apache.spark.sql.catalyst.InternalRow(null))
      .getArray(0).numElements() === 0)
    // SQL registration door
    graft.functions.GraftFunctions.register(spark)
    val viaSql = spark.sql(s"SELECT hashed_shingles('$in', 3) AS hs")
      .head.getSeq[Long](0)
    assert(viaSql === interpreted.toSeq)
  }

  test("nfc_normalize composes combining marks and is identity on ASCII/NFC") {
    import graft.functions.NfcNormalize
    import org.apache.spark.unsafe.types.UTF8String
    graft.functions.GraftFunctions.register(spark)
    // e + COMBINING ACUTE (U+0301) composes to U+00E9; ohm sign U+2126
    // canonically maps to U+03A9 (greek capital omega).
    val decomposed = "cafe\u0301 \u2126"
    val composed = "caf\u00e9 \u03a9"
    val rows = spark.sql(
      s"SELECT nfc_normalize('$decomposed') AS a, nfc_normalize('$composed') AS b, " +
        "nfc_normalize('plain ascii') AS c, nfc_normalize(CAST(NULL AS STRING)) AS d")
      .collect()
    assert(rows.head.getString(0) === composed)
    assert(rows.head.getString(1) === composed)
    assert(rows.head.getString(2) === "plain ascii")
    assert(rows.head.isNullAt(3))
    // ASCII fast path: byte count == char count returns the SAME object,
    // no String round-trip — the property the 100 TB hot path relies on.
    val ascii = UTF8String.fromString("hello world")
    assert(NfcNormalize.normalize(ascii) eq ascii)
    // Already-NFC multi-byte input also avoids re-encoding.
    val nfcIn = UTF8String.fromString(composed)
    assert(NfcNormalize.normalize(nfcIn) eq nfcIn)
    assert(NfcNormalize.normalize(UTF8String.fromString(decomposed)).toString
      === composed)
  }

  test("interpreted and codegen'd nfc_normalize agree") {
    import graft.functions.NfcNormalize
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val in = "Ame\u0301lie \u2126 resume\u0301 plain"
    val expr = NfcNormalize(Literal(UTF8String.fromString(in), StringType))
    val interpreted = expr.eval(null).toString
    // Force the codegen path via a projection over a bound reference.
    val proj = org.apache.spark.sql.catalyst.expressions.codegen
      .GenerateUnsafeProjection.generate(
        Seq(NfcNormalize(BoundReference(0, StringType, nullable = true))))
    val row = org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString(in))
    assert(proj(row).getUTF8String(0).toString === interpreted)
    assert(interpreted === "Am\u00e9lie \u03a9 resum\u00e9 plain")
  }

  test("interpreted eval and codegen agree for every native scalar expression on edge inputs") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
      InterpretedUnsafeProjection, UnsafeProjection}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions._

    /** Every row, as a generic and as an unsafe row, through the
      * interpreted projection (`eval`) and the generated one (`doGenCode`):
      * the two results must be byte-identical. */
    def agree(types: Seq[DataType], rows: Seq[Seq[Any]])(
        build: Seq[Expression] => Expression): Unit = {
      val expr = build(types.zipWithIndex.map { case (t, i) =>
        BoundReference(i, t, nullable = true) })
      assert(expr.checkInputDataTypes().isSuccess, expr)
      val interpreted = InterpretedUnsafeProjection.createProjection(Seq(expr))
      val generated = GenerateUnsafeProjection.generate(Seq(expr))
      val toUnsafe = UnsafeProjection.create(types.toArray)
      for (vals <- rows) {
        val generic = InternalRow.fromSeq(vals)
        for (in <- Seq(generic, toUnsafe(generic).copy())) {
          val (i, g) = (interpreted(in).copy(), generated(in).copy())
          def show(r: InternalRow) =
            if (r.isNullAt(0)) "null" else convertToScala(r.get(0, expr.dataType), expr.dataType)
          assert(i == g, s"${expr.prettyName} on $vals: eval ${show(i)} vs codegen ${show(g)}")
        }
      }
    }

    def arr(xs: Seq[Any]): GenericArrayData =
      if (xs == null) null else new GenericArrayData(xs.toArray)
    def vec(t: DataType, xs: Seq[Any]): GenericArrayData = arr(
      if (xs == null || t == ArrayType(DoubleType)) xs
      else xs.map { case d: Double => d.toFloat; case other => other })
    val vecTypes = Seq(ArrayType(FloatType), ArrayType(DoubleType))
    // null array, empty, zero-norm, null element, unequal lengths, a
    // 33-element vector (one bit past a packed word), .5 rounding edges
    val vecs: Seq[Seq[Any]] = Seq(null, Seq(), Seq(0.0, 0.0, 0.0),
      Seq(1.0, -2.5, 3.0), Seq(0.5, null, -1.5), Seq(2.0, 1.0),
      Seq(127.0, 0.5, -0.5, 63.5, -63.5), Seq(-1.0, 0.25, 4.0, 2.0, 0.0),
      Seq.tabulate(33)(i => math.sin(i + 1.0)))
    for (ta <- vecTypes; tb <- vecTypes)
      agree(Seq(ta, tb), for (a <- vecs; b <- vecs) yield Seq(vec(ta, a), vec(tb, b))) {
        case Seq(a, b) => CosineSimilarity(a, b)
      }
    val unit = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 0.6, 0.8), Seq(0.0, 0.6, 0.8),
      Seq(-0.6, 0.0, 0.8))
    for (t <- vecTypes) {
      val rows = vecs.map(v => Seq(vec(t, v)))
      agree(Seq(t), rows) { case Seq(v) => NearestCentroid(v, unit) }
      agree(Seq(t), rows) { case Seq(v) => SignBitPack(v) }
      agree(Seq(t), rows) { case Seq(v) => Int8QuantizeCodes(v) }
      agree(Seq(t), rows) { case Seq(v) => JlProject(v, 4) }
    }

    val longs: Seq[Seq[Any]] = Seq(null, Seq(), Seq(1L, 3L), Seq(1L, 0L),
      Seq(1L, null), Seq(-3L, 2L, 9L), Seq(2L, 5L, 9L, 11L), Seq(-1L, 5L, 7L))
    val bits = ArrayType(LongType)
    val longPairs = for (a <- longs; b <- longs) yield Seq(arr(a), arr(b))
    agree(Seq(bits, bits), longPairs) { case Seq(a, b) => HammingDistance(a, b) }
    agree(Seq(bits, bits), longPairs) { case Seq(a, b) => SortedIntersectCount(a, b) }

    val sk = StructType(Seq(StructField("q", BinaryType),
      StructField("scale", DoubleType), StructField("norm", DoubleType)))
    def sketch(q: Array[Byte], scale: Double, norm: Double) = InternalRow(q, scale, norm)
    // null struct, null codes, zero norm, empty codes, mismatched lengths
    val sketches = Seq(null, sketch(null, 1.0, 1.0),
      sketch(Array[Byte](1, 2, 3), 0.1, 2.0), sketch(Array[Byte](-1, 5, 127), 0.05, 1.5),
      sketch(Array[Byte](1, 2), 0.1, 2.0), sketch(Array[Byte](1, 2, 3), 0.1, 0.0),
      sketch(Array.emptyByteArray, 0.1, 1.0))
    agree(Seq(sk, sk), for (a <- sketches; b <- sketches) yield Seq(a, b)) {
      case Seq(a, b) => SketchCosUpperBound(a, b)
    }

    val texts = Seq(null, "", "  a  b ", "one two three two one two three four",
      "cafe\u0301 \u2126 resume\u0301", "plain ascii").map(t =>
      Seq(if (t == null) null else UTF8String.fromString(t)))
    agree(Seq(StringType), texts) { case Seq(t) => NfcNormalize(t) }
    for (n <- Seq(1, 2, 3); distinct <- Seq(true, false))
      agree(Seq(StringType), texts) { case Seq(t) => HashedShingles(t, n, distinct) }

    val table = arr(Seq.tabulate(16)(i => (i * 7 % 5).toLong))
    agree(Seq(bits, StringType),
      for (s <- Seq(null, table); t <- texts.map(_.head).take(4)) yield Seq(s, t)) {
      case Seq(s, t) => CountMinEstimate(s, t, 2, 8)
    }
  }

  test("SQL top_k_by_score through the session registry matches the Column API") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    Seq((1, 3.0, 30L), (1, 9.0, 90L), (1, 5.0, 50L), (2, 1.0, 10L))
      .toDF("g", "score", "id").createOrReplaceTempView("tk")
    val got = spark.sql(
      """SELECT g, top_k_by_score(score, id, 2) AS top
        |FROM tk GROUP BY g ORDER BY g""".stripMargin)
      .collect().map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getDouble(0), x.getLong(1))))
      .toMap
    assert(got(1) === Seq((9.0, 90L), (5.0, 50L)))
    assert(got(2) === Seq((1.0, 10L)))
  }

  test("non-literal k is rejected with a clear error") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    Seq((1, 1.0, 1L)).toDF("g", "score", "id").createOrReplaceTempView("tk2")
    val e = intercept[Exception] {
      spark.sql("SELECT top_k_by_score(score, id, g) FROM tk2 GROUP BY g")
        .collect()
    }
    assert(e.getMessage.contains("k literal int"))
  }
}
