package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class ToolsSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark

  test("Probe reports each query's jobs, stages and tasks from its own job groups") {
    val names = Seq("kg_mentions", "dedup_minhash_pairs")
    val line = graft.tools.Probe.measure(spark, "/root/testdata/sf0.001", reps = 1, names)
    val queries = new ObjectMapper().readTree(line).get("queries")
    val stageIds = names.map { name =>
      val q = queries.get(name)
      assert(q != null, s"$name missing from $line")
      val jobs = q.get("jobs").get(0).asInt
      val stages = q.get("stages").get(0).asInt
      val tasks = q.get("tasks").get(0).asInt
      assert(jobs >= 1 && stages >= jobs && tasks >= stages, s"$name: $q")
      val stageTasks = q.get("stage_tasks").get(0)
      assert(stageTasks.size == stages && stageTasks.elements.asScala.map(_.asInt).sum == tasks)
      Seq("persist_mb", "held_mb").foreach { key =>
        val mb = q.get(key)
        assert(mb != null && mb.size == 1 && mb.get(0).asDouble >= 0.0, s"$name $key: $q")
      }
      stageTasks.fieldNames.asScala.toSet
    }
    assert(stageIds(0).intersect(stageIds(1)).isEmpty, s"shared stage ids: $line")
  }
}
