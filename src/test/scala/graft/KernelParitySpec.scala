package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.graftbridge.Bridge.expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Expressions._

/** Every compute kernel (a [[Expressions.UnaryKernel]] or
  * [[Expressions.BinaryKernel]]) answers the same on the interpreted path
  * as in whole-stage generated code, and the generated code calls the
  * concrete class's own `compute`.
  */
class KernelParitySpec extends SparkTestBase {

  private val fixtureSchema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("s", StringType),
    StructField("html", StringType),
    StructField("toks", ArrayType(StringType)),
    StructField("fv", ArrayType(FloatType)),
    StructField("fv2", ArrayType(FloatType)),
    StructField("lv", ArrayType(LongType)),
    StructField("lv2", ArrayType(LongType)),
    StructField("xy", ArrayType(LongType)),
    StructField("codes", ArrayType(LongType)),
    StructField("codes2", ArrayType(LongType)),
    StructField("members", ArrayType(StructType(Seq(
      StructField("id", LongType), StructField("h", LongType)))))))

  private val fixtureRows = Seq(
    Row(0, "probe",
      """<html><body><h1 class="t"> Title </h1><p>para <a href="/x">x</a>
        |<a href="http://y/">y</a></p><script>var a = 1;</script></body></html>""".stripMargin,
      Seq("a", "b", "a", "b", "c", "d", "e", "f"),
      Seq(0.5f, -1.25f, 2.0f, -0.0f), Seq(1.0f, 2.0f, -3.0f, 0.25f),
      Seq(1L, 2L, 3L, 5L, 8L), Seq(2L, 3L, 4L, 8L), Seq(3L, 5L),
      Seq(123456789L, 42L), Seq(987654321L, 43L),
      Seq(Row(1L, 0xF0F0L), Row(2L, 0xF0F1L), Row(3L, 0x0F0FL))),
    Row(1, "cafe\u0301 e\u0301te\u0301",
      """<div><span id="r">4.5</span><a href="">empty</a></div>""",
      Seq("x"), Seq(-1.0f), Seq(3.0f, 4.0f), Seq.empty[Long], Seq(7L), Seq(0L, 15L),
      Seq(-1L), Seq(0L), Seq(Row(9L, 1L))),
    Row(2, null, null, null, null, null, null, null, null, null, null, null))

  private val centroids = Array(Array(0L, 0L), Array(4L, 4L), Array(0L, 15L), Array(3L, 6L))

  /** One entry per compute kernel: its Column over the fixture columns. */
  private def kernels: Seq[Column] = Seq(
    md5_bits(col("s"), 15),
    float_vector_dot(col("fv"), col("fv2")),
    long_vector_dot(col("lv"), col("lv2")),
    sign_bits_packed(col("fv"), 0),
    hamming_packed(col("codes"), col("codes2")),
    minhash_signature(col("toks"), 8),
    simhash60(col("toks")),
    word_shingles(col("toks"), 2),
    hyperplane_signatures(col("fv"), 4, 8, 3, 7),
    signature_agreement(col("lv"), col("lv2")),
    sorted_intersect_count(col("lv"), col("lv2")),
    sorted_id_pairs(col("lv")),
    ngram_stats(col("toks"), 2),
    simhash_id_pairs(col("members"), 4),
    z_value(col("xy"), 2, 4),
    hilbert_value(col("xy"), 4),
    html_extract(col("html"), Seq(("title", "h1.t", None), ("href", "a", Some("href")))),
    html_to_text(col("html")),
    nfc_normalize(col("s")),
    html_links(col("html")),
    span_windows(col("toks"), 3),
    span_keys(col("toks"), 3),
    quantize_micro(col("fv")),
    nearest_cell_q(col("xy"), centroids),
    nearest_cells_q(col("xy"), centroids, 2))

  private def isKernel(c: Class[_]): Boolean =
    classOf[UnaryKernel[_, _]].isAssignableFrom(c) ||
      classOf[BinaryKernel[_, _, _]].isAssignableFrom(c)

  /** Runs `body` with `confs` set, then puts back exactly the session's
    * explicit settings (a key it had not set is unset again).
    */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val explicit = spark.sessionState.conf.getAllConfs
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally confs.foreach { case (k, _) =>
      explicit.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None    => spark.conf.unset(k)
      }
    }
  }

  private def fixture =
    spark.createDataFrame(spark.sparkContext.parallelize(fixtureRows, 1), fixtureSchema)

  test("every compute kernel: interpreted evaluation equals generated evaluation") {
    // the nested classes are declared on the object's static mirror class
    val declared = Class.forName("graft.functions.Expressions").getDeclaredClasses.toSeq
      .filter(c => isKernel(c) && !c.isInterface).map(_.getName).toSet
    val covered = kernels.map(k => expression(k).getClass.getName).toSet
    assert(declared.nonEmpty && covered == declared,
      s"kernels without a parity fixture: ${declared -- covered}")

    val before = spark.conf.getAll
    for (k <- kernels) {
      val cls = expression(k).getClass
      val q = () => fixture.select(col("id"), k.as("out"))
      val interpreted = withConfs(
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        val df = q()
        assert(!df.queryExecution.executedPlan.toString.contains("WholeStageCodegen"))
        df.collect().sortBy(_.getInt(0)).toSeq
      }
      val generated = withConfs(
          "spark.sql.codegen.wholeStage" -> "true",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
          "spark.sql.codegen.fallback" -> "false") {
        val df = q()
        val rows = df.collect().sortBy(_.getInt(0)).toSeq
        val code = org.apache.spark.sql.execution.debug
          .codegenString(df.queryExecution.executedPlan)
        // the concrete class's own compute, called from the generated Java
        val call = raw"\(\(" + java.util.regex.Pattern.quote(cls.getName) +
          raw"\) references\[\d+\](?: /\* \w+ \*/)?\)\.compute\("
        assert(call.r.findFirstIn(code).isDefined,
          s"${cls.getSimpleName}: no direct compute call in the generated code:\n$code")
        rows
      }
      assert(interpreted == generated, s"${cls.getSimpleName}: interpreted != generated")
      assert(generated.map(_.getInt(0)) == Seq(0, 1, 2))
      assert(generated.last.isNullAt(1), s"${cls.getSimpleName}: null input must yield null")
      assert(!generated.head.isNullAt(1), s"${cls.getSimpleName}: fixture row yields a value")
    }
    assert(spark.conf.getAll == before, "the parity runs restore the session's confs")
  }
}
