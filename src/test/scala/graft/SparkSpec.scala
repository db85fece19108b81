package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * test run fast; suites must not mutate global conf destructively). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Run `body` with `pairs` set on the shared session's runtime conf,
    * then restore each key to its earlier value, or unset it. */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Whole-stage codegen nodes in `plan`, looking inside adaptive plans
    * and their query stages. */
  def codegenStages(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    SparkSpec.planHelper.collect(plan) {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.size

  /** Names of staging-lane threads ([[graft.core.Lanes]]) still alive. */
  def liveLanes: Seq[String] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-stage-")).map(_.getName)
  }
}

object SparkSpec {
  private val planHelper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
