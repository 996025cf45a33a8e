package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.census.Normalize
import graft.functions.CleanDecimal

/** The census cleaning kernel against the composition it replaced —
  * `sentinelToNull(blanksAsNull(c).cast(..))`, kept here (and only here)
  * as the reference: value for value, error class for error class, in
  * both ANSI modes, through interpreted `eval` and generated code, and
  * end to end with whole-stage codegen on and off. */
class CleanDecimalSpec extends SparkTestBase {

  /** The replaced composition: blank (spaces-only `trim`) → NULL, cast,
    * sentinel → NULL; a percent cell casts to (18,1) and narrows to
    * (5,1) after its sentinel is nulled. */
  private def reference(c: Column, percent: Boolean): Column = {
    val blanksAsNull = when(trim(c) === "", lit(null).cast(StringType)).otherwise(c)
    if (percent)
      Normalize.sentinelToNull(blanksAsNull.cast(DecimalType(18, 1))).cast(DecimalType(5, 1))
    else Normalize.sentinelToNull(blanksAsNull.cast(DecimalType(18, 0)))
  }

  private val edges: Seq[String] = Seq(
    null, "", " ", "   ", "\t", "\n", " \t ", "+5", ".5", "5.", "-.5", "1e3",
    "1E-2", " 42 ", "\t42", "42\n", "4 2", "-600000000", "-600000000.4",
    "-599999999.5", "-599999999.4", "-666666666", "-888888888", "-222222222",
    "9999.95", "9999.94", "-9999.95", "999999999999999999", "999999999999999999.5",
    "1234567890123456789", "12345678901234567890", "1" * 40, "1e40", "-1e17",
    "0", "-0", "0.05", "0.04999", "NaN", "Infinity", "abc", "12abc", "1,000",
    "中文", "é5", "５", "--5", "+-5", "1e", ".", "-")

  /** Seeded random cells: decimal-shaped text around the interesting
    * magnitudes, with stray whitespace, plus short garbage strings. */
  private val randomCells: Seq[String] = {
    val rnd = new scala.util.Random(20240607)
    val pads = Seq("", "", "", " ", "  ", "\t", "\n")
    val pool = "0123456789-+.eE \té中x"
    def digits(n: Int) = Seq.fill(n)(rnd.nextInt(10)).mkString
    def numeric(): String = {
      val sign = Seq("", "", "-", "+")(rnd.nextInt(4))
      val int = rnd.nextInt(6) match {
        case 0 => "60000000" + digits(1)
        case 1 => "59999999" + digits(1)
        case 2 => "9999"
        case _ => digits(rnd.nextInt(21))
      }
      val frac = if (rnd.nextBoolean()) "." + digits(rnd.nextInt(4)) else ""
      val exp = if (rnd.nextInt(8) == 0) s"e${rnd.nextInt(7) - 3}" else ""
      pads(rnd.nextInt(pads.size)) + sign + int + frac + exp + pads(rnd.nextInt(pads.size))
    }
    def garbage(): String =
      Seq.fill(rnd.nextInt(5))(pool(rnd.nextInt(pool.length))).mkString
    Seq.fill(400)(if (rnd.nextInt(5) == 0) garbage() else numeric())
  }

  private val cells = edges ++ randomCells

  private def withAnsi[T](ansi: Boolean)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
    try body finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  private def frame(vs: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(vs.map(Row(_)).asJava,
      StructType(Seq(StructField("v", StringType, nullable = true))))
  }

  /** A cell's outcome: its value as a string (NULL = None), or the
    * error class it raised. */
  private def errorClass(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collect {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.toSeq.lastOption.getOrElse(s"unclassified ${t.getClass.getName}: ${t.getMessage}")

  private def outcome(f: => Any): Either[String, Option[String]] =
    try Right(Option(f).map(_.toString))
    catch { case t: Throwable => Left(errorClass(t)) }

  /** The kernel and the reference, analyzed (type coercion applied)
    * and bound to the one input column. */
  private def bound(percent: Boolean): (Expression, Expression) = {
    val plan = frame(Seq("0")).select(
      Normalize.cleanCast(col("v"), percent).as("k"), reference(col("v"), percent).as("r"))
      .queryExecution.analyzed
    val Project(list, child) = plan
    val Seq(k, r) = list.map { case a: Alias => BindReferences.bindReference(a.child, child.output) }
    assert(k.isInstanceOf[CleanDecimal], k)
    (k, r)
  }

  for (ansi <- Seq(false, true); percent <- Seq(false, true)) {
    test(s"kernel == reference per cell (ansi=$ansi, percent=$percent), interpreted and codegen") {
      withAnsi(ansi) {
        val (k, r) = bound(percent)
        val dt = k.dataType
        assert(dt == r.dataType && dt == (if (percent) DecimalType(5, 1) else DecimalType(18, 0)))
        val (kGen, rGen) = (GenerateMutableProjection.generate(Seq(k)),
          GenerateMutableProjection.generate(Seq(r)))
        val mismatches = cells.flatMap { c =>
          val row = InternalRow(UTF8String.fromString(c))
          val want = outcome(r.eval(row))
          val got = Seq(
            "eval" -> outcome(k.eval(row)),
            "codegen" -> outcome(kGen(row).get(0, dt)),
            "reference codegen" -> outcome(rGen(row).get(0, dt)))
          got.collect { case (path, o) if o != want =>
            s"${Option(c).map(x => "\"" + x + "\"").getOrElse("NULL")} $path: $o, reference $want" }
        }
        assert(mismatches.isEmpty, mismatches.take(20).mkString("\n"))
        if (ansi) {
          val classes = cells.map(c => outcome(r.eval(InternalRow(UTF8String.fromString(c)))))
            .collect { case Left(e) => e }.toSet
          assert(classes.contains("CAST_INVALID_INPUT") &&
            (!percent || classes.contains("NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION")), classes)
        }
      }
    }
  }

  test("the pinned edges resolve as the paper's cleaning says") {
    def clean(ansi: Boolean, percent: Boolean, c: String) = withAnsi(ansi) {
      val (k, _) = bound(percent)
      outcome(k.eval(InternalRow(UTF8String.fromString(c))))
    }
    for (ansi <- Seq(false, true); c <- Seq(null, "", "   ", "-600000000.4", "-599999999.5"))
      assert(clean(ansi, percent = false, c) == Right(None), s"'$c' ansi=$ansi")
    assert(clean(ansi = false, percent = false, "\t") == Right(None))
    assert(clean(ansi = true, percent = false, "\t") == Left("CAST_INVALID_INPUT"))
    assert(clean(ansi = false, percent = true, "9999.95") == Right(None))
    assert(clean(ansi = true, percent = true, "9999.95") == Left("NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION"))
    assert(clean(ansi = true, percent = true, "-666666666") == Right(None))
    assert(clean(ansi = true, percent = false, " +5 ") == Right(Some("5")))
    assert(clean(ansi = true, percent = true, ".55") == Right(Some("0.6")))
  }

  /** Cells that run through an RDD-backed frame, so the projection runs
    * in tasks (a local relation would be folded while planning). */
  private def taskFrame(vs: Seq[String]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(vs.map(Row(_)), 3),
      StructType(Seq(StructField("v", StringType, nullable = true))))

  for (wholeStage <- Seq(true, false)) {
    test(s"end to end with whole-stage codegen ${if (wholeStage) "on" else "off"}") {
      val prev = spark.conf.get("spark.sql.codegen.wholeStage")
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
      try for (ansi <- Seq(false, true); percent <- Seq(false, true)) withAnsi(ansi) {
        val (_, r) = bound(percent)
        val (ok, bad) = cells.partition(c =>
          outcome(r.eval(InternalRow(UTF8String.fromString(c)))).isRight)
        val rows = taskFrame(ok).select(col("v"),
          Normalize.cleanCast(col("v"), percent).as("k"), reference(col("v"), percent).as("r"))
          .collect()
        assert(rows.length == ok.length)
        val diff = rows.filter(x => x.get(1) != x.get(2))
        assert(diff.isEmpty, s"ansi=$ansi percent=$percent: ${diff.take(10).mkString(", ")}")
        // each failing cell fails the same way through both columns
        bad.distinct.take(6).foreach { c =>
          def run(e: Column) = outcome(taskFrame(Seq(c)).select(e).collect().head.get(0))
          assert(run(Normalize.cleanCast(col("v"), percent)) == run(reference(col("v"), percent)),
            s"'$c' ansi=$ansi percent=$percent")
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
    }
  }

  test("a census frame plans one CleanDecimal per estimate, with no CASE or trim") {
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, StringTrim}
    val codes = graft.census.Mapping.codeToLabel.keys.toSeq.sorted
    val df = frame(Seq("1")).select((col("v").as("NAME") +: codes.map(c => col("v").as(c))) ++
      Seq(lit("01").as("state"), lit("001").as("county"), lit("000100").as("tract")): _*)
    val out = Normalize.censusPipeline(Seq(df), "NAME" +: codes, graft.census.Mapping.codeToLabel,
      codes.map(c => graft.census.Mapping.codeToLabel(c) -> c.endsWith("PE")).toMap,
      Seq("STATE", "COUNTY", "TRACT"))
    val exprs = out.queryExecution.analyzed.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case e => e })
    assert(exprs.count(_.isInstanceOf[CleanDecimal]) == codes.size)
    assert(!exprs.exists(e => e.isInstanceOf[CaseWhen] || e.isInstanceOf[StringTrim]))
  }
}
