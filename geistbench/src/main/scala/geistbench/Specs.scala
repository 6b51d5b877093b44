package geistbench

/** The stream specs the benchmark deploys. `ingest_bulk` and `interactive`
  * share one transform: a blacklist exclusion, two extractFields branches
  * with casts (one parses a user agent), and a raw-event regexp branch with
  * time conversion whose misses go to the dead-letter table (houe=dlq).
  * Both fields branches emit the same columns, so they share one keyed
  * parquet table; the regexp branch has no `key` and is counted, not stored.
  */
object Specs {
  private val transform =
    """{
      |  "excludeEventsWith": [{"key": "kind", "values": ["spam"]}],
      |  "extractFields": [
      |    {"forEventsWith": [{"key": "kind", "value": "purchase"}],
      |     "fields": [
      |       {"id": "key", "jsonPath": "eventId"},
      |       {"id": "user", "jsonPath": "user"},
      |       {"id": "n", "jsonPath": "qty", "type": "integer"},
      |       {"id": "x", "jsonPath": "amount", "type": "float"},
      |       {"id": "s", "jsonPath": "currency"},
      |       {"id": "t", "jsonPath": "ts", "type": "unixTimestamp"}]},
      |    {"forEventsWith": [{"key": "kind", "value": "view"}],
      |     "fields": [
      |       {"id": "key", "jsonPath": "eventId"},
      |       {"id": "user", "jsonPath": "user"},
      |       {"id": "n", "jsonPath": "dwell", "type": "integer"},
      |       {"id": "x", "jsonPath": "score", "type": "float"},
      |       {"id": "s", "jsonPath": "ua", "type": "userAgent"},
      |       {"id": "t", "jsonPath": "ts", "type": "unixTimestamp"}]}
      |  ],
      |  "regexp": {
      |    "expression": "\"line\":\"(?P<ts>\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}) (?P<method>[A-Z]+) (?P<path>/[^ \"]*) (?P<status>\\d{3})\"",
      |    "timeConversion": {"field": "ts", "inputFormat": "2006-01-02 15:04:05"}
      |  }
      |}""".stripMargin

  /** The JSON paths the transform reads, for the path-layer probe. */
  val paths: Seq[String] =
    Seq("kind", "eventId", "user", "qty", "amount", "currency", "dwell", "score", "ua", "ts")

  def event(suffix: String, version: Int, source: String): String =
    s"""{
       |  "namespace": "bench", "streamIdSuffix": "$suffix", "version": $version,
       |  "description": "benchmark stream",
       |  "ops": {"handlingOfUnretryableEvents": "dlq"},
       |  "source": {"type": "$source"},
       |  "transform": $transform,
       |  "sink": {"type": "bigtable"}
       |}""".stripMargin

  /** An eventsim-source stream that the interactive client hot-swaps. */
  def eventsim(suffix: String, version: Int, resolutionMs: Int, perTrigger: Int): String =
    s"""{
       |  "namespace": "bench", "streamIdSuffix": "$suffix", "version": $version,
       |  "description": "benchmark hot-swap target",
       |  "source": {"type": "eventsim", "config": {"customConfig": {
       |    "simResolutionMilliseconds": $resolutionMs,
       |    "eventGeneration": {"type": "random", "minCount": $perTrigger, "maxCount": $perTrigger},
       |    "eventSpec": {"fields": [
       |      {"field": "name", "predefinedValues": [{"value": "PING"}, {"value": "PONG"}]},
       |      {"field": "n", "randomizedValue": {"type": "int", "min": 1, "max": 1000}}]}
       |  }}},
       |  "transform": {"extractFields": [{"fields": [
       |    {"id": "name", "jsonPath": "name"},
       |    {"id": "n", "jsonPath": "n", "type": "integer"}]}]},
       |  "sink": {"type": "void"}
       |}""".stripMargin
}
