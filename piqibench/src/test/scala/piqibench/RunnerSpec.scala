package piqibench

import java.io.File
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Whole runs at tiny size: the result line, failure accounting and the
  * per-layer names of a traced run. */
class RunnerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = new File("target/test-work").getAbsoluteFile
  private lazy val spark: SparkSession = { Files.delete(work); Main.session(work) }
  override def afterAll(): Unit = spark.stop()

  /** validate-scan at 1,000 docs; `wrongBy` shifts the expected doc count. */
  private final class Tiny(wrongBy: Long) extends Workload {
    type Out = ValidateScan.Out
    val name = "tiny"
    def shape(seed: Long): Shape = ValidateScan.shape(seed).copy(n = 1000, corruptEvery = 100)
    def materialise(ctx: Ctx, s: Shape, dir: File): Inputs = ValidateScan.materialise(ctx, s, dir)
    def job(ctx: Ctx, s: Shape, in: Inputs, iter: Long): Out = ValidateScan.job(ctx, s, in, iter)
    def check(ctx: Ctx, s: Shape, in: Inputs, out: Out): Seq[String] =
      ValidateScan.check(ctx, s.copy(n = s.n + wrongBy), in, out)
  }

  private def run(wl: Workload, traced: Boolean): JsonNode =
    new ObjectMapper().readTree(Main.run(spark, wl, 9L, 0.5, traced, new File(work, wl.name), Map.empty))

  test("a correct run reports every end-to-end metric and no failures") {
    val r = run(new Tiny(0), traced = false)
    assert(r.get("correct").asBoolean)
    assert(r.get("failed").asLong == 0 && r.get("attempted").asLong >= 1 + 3)
    val names = Set("setup_s", "docs_per_s", "run_s.p50", "peak_rss_mb", "ok_ops_ratio")
    assert(iterator(r.get("metrics")).toSet == names)
    names.foreach(n => assert(r.get("metrics").get(n).get("value").asDouble > 0, n))
  }

  test("a wrong expected count is reported as a failed op, not an abort") {
    val r = run(new Tiny(100), traced = false)
    assert(!r.get("correct").asBoolean)
    assert(r.get("failed").asLong == r.get("attempted").asLong)
    assert(r.get("metrics").get("ok_ops_ratio").get("value").asDouble == 0.0)
  }

  test("a traced run emits every per-layer name") {
    val r = run(new Tiny(0), traced = true)
    assert(r.get("correct").asBoolean)
    val m = r.get("metrics")
    assert(iterator(m).size == Layers.SpanNames.size * Layers.Fields.size + 13)
    assert(m.get("exec.validate_counts.wall_s").get("value").asDouble > 0)
    assert(m.get("exec.validate_counts.jobs").get("value").asDouble >= 1)
    assert(m.get("control.scan.executor_cpu_s").get("value").asDouble > 0)
    assert(m.get("ops.components.wall_s").get("value").asDouble == 0)
    assert(m.has("trace.overhead_s"))
  }

  private def iterator(n: JsonNode): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    n.fieldNames().asScala
  }
}
