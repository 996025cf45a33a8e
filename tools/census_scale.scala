// Census scale rung, run by tools/census_scale.sh inside spark-shell:
// for each generated input size, time a raw CensusSource collect, then
// Normalize.censusPipeline into the noop sink. Each time is the median
// of 4 reps after one discarded rep.
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import graft.census.{Mapping, Normalize}

val scaleDir = sys.env("CENSUS_SCALE_DIR")
val sizes = sys.env("CENSUS_SCALE_TRACTS").split(" ").filter(_.nonEmpty).map(_.toInt).toSeq
val label = sys.env.getOrElse("CENSUS_SCALE_LABEL", "engine")

def median(xs: Seq[Double]): Double = {
  val s = xs.sorted
  if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
}

def timed(body: => Unit): Double = {
  val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
}

def steady(body: => Unit): Double = median((0 to 4).map(_ => timed(body)).drop(1))

val results = sizes.map { n =>
  val dir = s"$scaleDir/t$n"
  val truth = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(s"$dir/truth.json"))
  val codes = truth.get("codes").elements().asScala.map(_.asText).toSeq
  val header = ("NAME" +: codes) ++ Seq("state", "county", "tract")
  val estimates = codes.map(c => Mapping.codeToLabel(c) -> c.endsWith("PE")).toMap
  def source(): DataFrame = spark.read.format("graft.sources.CensusSource")
    .option("path", s"$dir/v1.json").option("expect", header.mkString(",")).load()
  def pipeline(): DataFrame = Normalize.censusPipeline(Seq(source()), header,
    Mapping.codeToLabel, estimates, Seq("STATE", "COUNTY", "TRACT"))
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  val raw = steady(source().collect())
  val clean = steady(noop(pipeline()))
  println(f"census_scale $label tracts=$n%d raw_collect_s=$raw%.3f pipeline_noop_s=$clean%.3f " +
    f"ratio=${clean / raw}%.2f")
  (n, raw, clean)
}
results.sliding(2).foreach {
  case Seq((n0, r0, c0), (n1, r1, c1)) =>
    val d = (n1 - n0).toDouble
    println(f"census_scale $label slope tracts=$n0%d..$n1%d raw_collect_us_per_tract=${(r1 - r0) / d * 1e6}%.2f " +
      f"pipeline_noop_us_per_tract=${(c1 - c0) / d * 1e6}%.2f")
  case _ => ()
}
System.exit(0)
