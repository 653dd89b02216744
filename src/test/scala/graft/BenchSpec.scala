package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact channel: a log reader keeps only the last 2,000 chars
  * of the run's stdout, so the final line must fit there as valid JSON. */
class BenchSpec extends AnyFunSuite {

  test("last stdout line is parseable JSON under 2,000 chars for the real query set") {
    val benchRows = 10000000L
    // every SparkEntry query at a 3-digit-integer wall: the widest realistic
    // per-query entry, so the full object is as long as a slow run makes it
    val queries = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 123.456) :+
      (s"suite_validate_${benchRows}rows" -> 17.305)
    val pairReps = 8
    def json(withQueries: Boolean) = Bench.resultJson(queries, withQueries,
      "/data/testdata/sf0.1", benchRows, cpus = 32, reps = 3, battReps = 2,
      suiteSec = 17.305, scalingRows = 16000000L, nCores = 1, pairReps = pairReps,
      allN = Seq.fill(pairReps)(261.99), all4N = Seq.fill(pairReps)(110.43))

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val line = json(withQueries = false)
    assert(line.length < 2000, s"last stdout line is ${line.length} chars")
    val parsed = mapper.readTree(line)
    assert(!parsed.has("queries"))
    assert(parsed.get("validated_seq_per_sec").asLong == 577868L)
    assert(parsed.get("scaling").get("all_n").size == pairReps)
    assert(parsed.get("scaling").get("all_4n").size == pairReps)

    // the file artifact keeps every per-query wall
    val full = mapper.readTree(json(withQueries = true))
    assert(full.get("queries").size == queries.size)
    assert(full.get("value").asDouble == parsed.get("value").asDouble)
  }
}
