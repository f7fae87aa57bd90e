package graft

import org.scalatest.funsuite.AnyFunSuite

class FailureRecordSpec extends AnyFunSuite {

  test("failure record is one JSON line with class, cause chain and root frames") {
    val root = new java.io.IOException("disk\tgone \"x\"")
    val e = new org.apache.spark.SparkException("job aborted\nstage 3", root)
    val line = FailureRecord.json("verify", "q_name", e)
    assert(!line.contains("\n"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("failure").asText == "verify")
    assert(node.get("query").asText == "q_name")
    assert(node.get("exception").asText == "org.apache.spark.SparkException")
    assert(node.get("message").asText == "job aborted\nstage 3")
    val causes = node.get("causes")
    assert(causes.size == 1)
    assert(causes.get(0).get("exception").asText == "java.io.IOException")
    assert(causes.get(0).get("message").asText == "disk\tgone \"x\"")
    val frames = node.get("root_frames")
    assert(frames.size > 0 &&
      frames.get(0).asText == root.getStackTrace.head.toString)
  }
}
