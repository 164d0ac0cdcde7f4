package perfbench

/** Stage-output digests at [[Main.DefaultSeed]], as printed in the run
  * summary (`# digest <stage>.<output> = rows:sum:xor`). A change here is a
  * change in what the engine computes. */
object Pins {
  def of(workload: String): Map[String, String] = all.getOrElse(workload, Map.empty)

  private val all: Map[String, Map[String, String]] = Map(
    "city" -> Map(
      "classify.city_stats" -> "25:12056935091:7885965667455529341",
      "classify.scores" -> "1500:762436200347:-252710495654941750",
      "classify.transitions" -> "3:785573681:-2078689730671601846",
      "collections.members" -> "192:93316418153:7444278574644538558",
      "ingest.poi_rows" -> "1053:537253787084:2518066052860946149",
      "mention_dedup.in_batch" -> "7283:3664212909926:125720460849440599",
      "mention_dedup.window" -> "7172:3540975142104:8901467176821225530",
      "mention_score.decisions" -> "6040:2985469992199:-3976112897232941250",
      "spatial.assigned" -> "1053:526999419019:-823935024491284349",
      "trending.log" -> "20:10592701456:-6137391374381333057",
      "trending.names" -> "4758:2384996359054:7650463032107064221"),
    "corpus" -> Map(
      "bigram" -> "750:371632617814:7119778785985476666",
      "bm25" -> "40:18163273839:-1892520346555193343",
      "dup_clusters" -> "675:343038741549:1198095631941247704",
      "minhash" -> "412:197175611945:-5610370146216902197",
      "ngram_jaccard" -> "29315:14657999368841:6645570195447249929"))
}
