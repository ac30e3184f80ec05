package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.pipeline.Pipeline

/** Results recorded from the engine for the benchmark's inputs
  * (`perfbench/expected.json`, written by `run.py --record`). Rollup and
  * sink entries are keyed `"<urls>/<seed>"`; query entries by name. Queries
  * listed under `rows_only` produced different hashes in two recordings, so
  * only their row counts are checked. */
final class Expected(root: JsonNode) {
  private def at(path: String*): Option[JsonNode] =
    path.foldLeft(Option(root))((n, k) => n.flatMap(x => Option(x.get(k))))

  def rollup(key: String): Option[(Map[String, Long], Long)] =
    at("crawl_rollup", key).map { n =>
      val tiers = n.get("tiers")
      (Seq("1m", "1h", "1d").map(t => t -> tiers.get(t).asLong).toMap, n.get("hash").asLong)
    }

  def sink(key: String): Option[(Pipeline.Result, Long)] =
    at("sink", key).map { n =>
      val r = n.get("rows")
      (Pipeline.Result(r.get(0).asLong, r.get(1).asLong, r.get(2).asLong, r.get(3).asLong), n.get("hash").asLong)
    }

  private lazy val rowsOnly: Set[String] = at("query_suite", "rows_only").map { n =>
    (0 until n.size).map(n.get(_).asText).toSet
  }.getOrElse(Set.empty)

  /** (rows, hash) of a query; the hash is None for a rows-only query. */
  def query(name: String): Option[(Long, Option[Long])] =
    at("query_suite", "queries", name).map { n =>
      (n.get("rows").asLong, if (rowsOnly(name)) None else Some(n.get("hash").asLong))
    }
}

object Expected {
  def load(path: java.nio.file.Path): Expected =
    new Expected(
      if (java.nio.file.Files.exists(path)) new ObjectMapper().readTree(path.toFile)
      else new ObjectMapper().createObjectNode())
}
