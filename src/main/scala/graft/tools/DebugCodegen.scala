package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object DebugCodegen {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("INFO")
    val docs = graft.io.Docs.generate(spark, 1000, 4, corruptEvery = 100)
    val counted = graft.exec.ValidationRunner.validateCounts(docs, graft.SparkEntry.docsPlan)
    // debugCodegen output
    import org.apache.spark.sql.execution.debug._
    counted.debugCodegen()
    // uint64 decimal branch of StructArrayRuleCount (RuleRangeDecimal):
    // CODEGEN_ONLY turns a janino error into a hard failure instead of the
    // silent interpreted fallback
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    import graft.spec._
    val u64spec = Spec("dbg", Seq(
      RecordDef("span", Seq(PField("u", PInt.uint64, Required))),
      RecordDef("r", Seq(PField("id", PInt.int64, Required),
        PField("spans", TypeRef("span"), Repeated)))), "r")
    val u64plan = graft.compile.SpecCompiler.compile(u64spec)
    val u64df = spark.range(0, 1000, 1, 4).select(col("id"),
      org.apache.spark.sql.functions.array(struct(
        (col("id").cast("decimal(20,0)") *
          lit(new java.math.BigDecimal("36893488147419103"))).cast("decimal(20,0)")
          .as("u"))).as("spans"))
    val u64counts = u64df.select(u64plan.violationCount)
    u64counts.debugCodegen()
    val vioTotal = u64counts.agg(sum(col("violation_count"))).collect()(0).getLong(0)
    // ids 501..999 overflow 2^64−1 (2^64−1 / 36893488147419103 ≈ 500.0000003)
    println(s"[debugcodegen] uint64 native range violations = $vioTotal (expect 499)")
    assert(vioTotal == 499L, s"expected 499 range violations, got $vioTotal")
    spark.conf.unset("spark.sql.codegen.factoryMode")
    spark.stop()
  }
}
