package graft.functions

import graft.SparkSpec
import graft.sources.Tables

/** The native expressions must be reachable from SQL on every session
  * built by [[graft.GraftSession]] (the SparkSessionExtensions path).
  */
class GraftExtensionsSpec extends SparkSpec {

  test("vec_dot and simhash64 are SQL-callable after registration") {
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
      "simhash64(array('a', 'b')) AS h").head()
    assert(r.getDouble(0) == 11.0)
    // deterministic signature, stable across calls
    val again = spark.sql("SELECT simhash64(array('a', 'b'))").head().getLong(0)
    assert(r.getLong(1) == again)
    // matches the Column API result
    import org.apache.spark.sql.functions._
    val viaColumn = spark.range(1)
      .select(TextOps.simHash(array(lit("a"), lit("b")))).head().getLong(0)
    assert(again == viaColumn)
  }

  test("jaro_winkler is SQL-callable and matches the Column form") {
    val r = spark.sql(
      "SELECT jaro_winkler('MARTHA', 'MARHTA') AS j").head()
    assert(math.abs(r.getDouble(0) - 0.9611111111111111) < 1e-12)
    import org.apache.spark.sql.functions._
    val viaColumn = spark.range(1)
      .select(TextOps.jaroWinkler(lit("MARTHA"), lit("MARHTA")))
      .head().getDouble(0)
    assert(r.getDouble(0) == viaColumn)
  }

  test("min_shingle_md5 equals the interpreted functions formulation") {
    import org.apache.spark.sql.functions._
    // includes supplementary characters (surrogate pairs in UTF-16):
    // shingle windows must count CODE POINTS like SQL substring does
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "short", "exactly8", "", "ab",
      "emoji 😀😁😂🤣😃 in the middle", "𠀀𠀁𠀂 leading CJK-ext", "😀ab😁cd😂")
    import spark.implicits._
    val df = texts.toDF("t")
    val rows = df.select(
      TextOps.minShingleFingerprint(col("t"), 8).as("native"),
      array_min(transform(
        sequence(lit(1), greatest(length(col("t")) - 7, lit(1))),
        i => md5(col("t").substr(i, lit(8)).cast("binary")))).as("hof"),
      expr("min_shingle_md5(t, 8)").as("sql")).collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1), r.toString)
      assert(r.getString(0) == r.getString(2))
    }
  }

  test("redact_pii SQL function ≡ TextOps.redactPii column form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val df = Seq(
      "mail a.user@example.com from 10.0.0.1 call 555-123-4567",
      "no pii here").toDF("t")
    val rows = df.select(
      TextOps.redactPii(col("t")).as("column_form"),
      expr("redact_pii(t)").as("sql_form")).collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
    assert(rows.head.getString(0) == "mail <EMAIL> from <IP> call <PHONE>")
  }

  test("vec_max_abs ≡ interpreted HOF; int8 quantization bounds the element error") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf("sf0.001")).limit(100)
    val rows = e.select(
      VectorOps.maxAbs(col("embedding")).as("native"),
      expr("vec_max_abs(embedding)").as("sql_form"),
      expr("array_max(transform(embedding, x -> abs(cast(x as double))))").as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(0) == r.getDouble(2), r.toString)
    }
    // dequantized q·scale never strays more than scale/2 from the input
    val bad = e.withColumn("scale", VectorOps.int8Scale(col("embedding")))
      .select(col("scale"), explode(col("embedding")).as("x"))
      .where(col("scale") > 0)
      .where(abs(round(col("x").cast("double") / col("scale"), 0) * col("scale")
        - col("x").cast("double")) > col("scale") / 2 * 1.0000001)
    assert(bad.isEmpty)
  }

  test("nfc_normalize recomposes, is idempotent, and matches the JDK reference") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val decomposed = "e\u0301cole franc\u0327aise" // e+composing acute, c+cedilla
    val precomposed = "\u00e9cole fran\u00e7aise"
    val df = Seq(decomposed, precomposed, "plain ascii", "").toDF("t")
    val rows = df.select(
      TextOps.nfcNormalize(col("t")).as("column_form"),
      expr("nfc_normalize(t)").as("sql_form"),
      length(col("t")).as("len_raw"),
      length(TextOps.nfcNormalize(col("t"))).as("len_nfc")).collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1), r.toString) // SQL ≡ Column
      assert(r.getString(0) ==
        java.text.Normalizer.normalize(r.getString(0),
          java.text.Normalizer.Form.NFC)) // idempotent / reference-equal
    }
    // decomposed input shrinks to the precomposed spelling...
    assert(rows(0).getString(0) == precomposed)
    assert(rows(0).getInt(2) == precomposed.length + 2)
    assert(rows(0).getInt(3) == precomposed.length)
    // ...and already-NFC input is byte-identical (fast path)
    assert(rows(1).getString(0) == precomposed)
    assert(rows(2).getString(0) == "plain ascii")
    // null propagates
    assert(Seq(Option.empty[String]).toDF("t")
      .select(TextOps.nfcNormalize(col("t"))).head().isNullAt(0))
  }

  test("mipsAugment: norms equalize to M, inner products survive, order = dot order") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.VectorOps
    val vecs = Seq((1L, Array(3.0, 4.0)), (2L, Array(0.5, 0.1)),
      (3L, Array(-2.0, 6.0)), (4L, Array(1.0, 1.0)))
      .toDF("id", "v")
    val m = vecs.agg(max(VectorOps.l2Norm(col("v"))).as("m"))
    val aug = vecs.crossJoin(broadcast(m))
      .select(col("id"), col("v"),
        VectorOps.mipsAugmentData(col("v"), col("m")).as("av"))
    // every augmented vector has norm M (= ||(-2,6)|| here)
    val norms = aug.select(VectorOps.l2Norm(col("av"))).collect()
      .map(_.getDouble(0))
    val bigM = math.sqrt(40.0)
    assert(norms.forall(n => math.abs(n - bigM) < 1e-12), norms.toSeq)
    // aug(q)·aug(x) = q·x exactly (query side appends 0)
    val q = Array(2.0, -1.0)
    val ips = aug.select(col("id"),
        VectorOps.dot(col("v"), lit(q)).as("ip"),
        VectorOps.dot(col("av"),
          VectorOps.mipsAugmentQuery(lit(q))).as("aip"))
      .collect()
    assert(ips.forall(r => r.getDouble(1) == r.getDouble(2)))
    // cosine order over the augmented space == inner-product order
    val byCos = aug.crossJoin(broadcast(m))
      .select(col("id"), VectorOps.cosine(col("av"),
        VectorOps.mipsAugmentQuery(lit(q))).as("c"))
      .orderBy(col("c").desc).collect().map(_.getLong(0)).toSeq
    val byDot = ips.sortBy(-_.getDouble(1)).map(_.getLong(0)).toSeq
    assert(byCos == byDot)
  }

  test("matryoshkaTruncate: unit-norm prefix; d >= len degenerates to l2Normalize") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorOps
    val df = Seq((1L, Array(3.0, 4.0, 100.0, -7.0)), (2L, Array(0.0, 0.0, 5.0, 5.0)))
      .toDF("id", "v")
    val t2 = df.select(col("id"), VectorOps.matryoshkaTruncate(col("v"), 2).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // first two dims of id 1: (3,4) → (0.6, 0.8) up to one ulp of the
    // 1/‖v‖ reciprocal; id 2's prefix is the zero vector →
    // try_divide nulls, never a throw
    assert(t2(1L).zip(Seq(0.6, 0.8)).forall { case (a, b) =>
      math.abs(a - b) < 1e-12 })
    assert(t2(2L) == null) // null ARRAY, not array of nulls
    val full = df.select(VectorOps.matryoshkaTruncate(col("v"), 4).as("a"),
        VectorOps.l2Normalize(col("v")).as("b"))
      .collect().forall(r => r.getSeq[Double](0) == r.getSeq[Double](1))
    assert(full)
  }
}
