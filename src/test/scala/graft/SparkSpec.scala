package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, Generate, MapPartitions, SerializeFromObject}
import org.scalatest.funsuite.AnyFunSuite

import graft.parsers.ParseGenerator

/** Shared session: one local SparkSession for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = LocalSession(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfUnit = "/root/testdata/sf0.001"

  /** Fails unless `df`'s per-row Scala code runs on the one row-stage path:
    * a `ParseStage` generator, and no Dataset object round trip (a
    * `mapPartitions` deserializes every row to an external `Row` and back,
    * and Catalyst cannot prune or move filters through it). */
  protected def assertRowStagePath(df: DataFrame, what: String): Unit = {
    val plan = df.queryExecution.optimizedPlan
    val objectOps = plan.collect {
      case p @ (_: DeserializeToObject | _: MapPartitions | _: SerializeFromObject) => p.nodeName
    }
    assert(objectOps.isEmpty, s"$what runs per-row code outside ParseStage: $objectOps\n$plan")
    assert(plan.find {
      case g: Generate => g.generator.isInstanceOf[ParseGenerator]
      case _ => false
    }.isDefined, s"$what plans no ParseStage generator:\n$plan")
  }
}
