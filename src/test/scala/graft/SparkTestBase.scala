package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for suites; one JVM-wide session (local[4]). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Runs `body` with the Spark confs set, then restores them. */
  def withConf[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /**
   * Runs `body` once per expression evaluator, passing its name, and
   * returns both results: once interpreted, and once through generated code
   * only, so a janino error fails the run instead of falling back to
   * interpreted evaluation. Both runs keep a local `Seq` input a scan:
   * `ConvertToLocalRelation` would otherwise fold its projection into the
   * plan, interpreted.
   */
  def inEachEvaluator[T](body: String => T): Seq[T] = {
    val local = "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    Seq(withConf(local, "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body("interpreted")),
        withConf(local, "spark.sql.codegen.wholeStage" -> "true",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(body("codegen only")))
  }

  /** Runs `body` with `l` registered, then drains the bus and removes it. */
  def listening[T](l: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try body
    finally { GraftBridge.drainListenerBus(sc); sc.removeSparkListener(l) }
  }

  /** The number of Spark jobs `body` starts. */
  def jobsOf(body: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    })(body)
    jobs.get
  }

  /** Runs `body` with the named loggers off, for a test whose expected
    * failure Spark logs as an ERROR; restores their configuration after. */
  def withLoggersOff[T](loggers: String*)(body: => T): T = withLoggersAt(Level.OFF, loggers: _*)(body)

  /** Runs `body` with the named loggers at `level` — ERROR quiets the WARNs
    * an expected event logs while an ERROR still shows; restores their
    * configuration after. */
  def withLoggersAt[T](level: Level, loggers: String*)(body: => T): T = {
    val context = LoggerContext.getContext(false)
    val config = context.getConfiguration
    val saved = loggers.map(n => n -> Option(config.getLoggers.get(n)).map(_.getLevel))
    try {
      loggers.foreach(Configurator.setLevel(_, level))
      body
    } finally {
      saved.foreach {
        case (n, Some(level)) => Configurator.setLevel(n, level)
        case (n, None) => config.removeLogger(n)
      }
      context.updateLoggers()
    }
  }
}

object SparkTestBase {
  val LogLevel = "WARN"

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel(LogLevel)
    s
  }
}
