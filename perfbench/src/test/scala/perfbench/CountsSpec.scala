package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** Job, stage and cut counts are the figures later work may cite instead
  * of wall-time ratios, so they must not move between runs of one seed. */
class CountsSpec extends AnyFunSuite {

  /** Per traced execution: (entry, construct jobs, exec jobs, exec stages,
    * cuts). Each run starts with the check pass, as a benchmark run does:
    * it also fills the program's per-process memos (trained codebooks,
    * lookup keys), which later runs in this JVM would otherwise skip. */
  private def tracedCounts(w: Workload, seed: Long): Seq[(String, Int, Int, Int, Int)] = {
    val work = Files.createTempDirectory(Paths.get("target"), "counts")
    val out = work.resolve("result.json")
    val o = Main.parse(Array("--workload", w.name, "--seed", seed.toString, "--seconds", "0",
      "--trace", "1", "--data-root", "data", "--scale", "sf0.001", "--work", work.toString,
      "--out", out.toString))
    val r = new Runner(o)
    try r.run() finally r.stop()
    implicit val formats: Formats = DefaultFormats
    val trace = (parse(Files.readString(out)) \ "trace_file").extract[String]
    (parse(Files.readString(Paths.get(trace))) \ "entries").children.map { e =>
      assert((e \ "ok").extract[Boolean], (e \ "error").extractOpt[String])
      ((e \ "entry").extract[String], (e \ "construct_jobs").extract[Int],
        (e \ "exec_jobs").extract[Int], (e \ "exec_stages").extract[Int],
        (e \ "cuts").extract[Int])
    }
  }

  for (w <- Workloads.all) test(s"${w.name}: two traced runs of one seed count the same") {
    val a = tracedCounts(w, 11)
    val b = tracedCounts(w, 11)
    assert(a.map(_._1).sorted == w.entries.sorted)
    assert(a == b)
  }

  test("iterative entries run jobs while they are constructed and hold cuts") {
    val counts = tracedCounts(Workloads.iterativeBuild, 3).map(c => c._1 -> c).toMap
    assert(counts("graph_pagerank")._2 > 0)
    assert(counts("graph_pagerank")._5 > 0)
  }
}
