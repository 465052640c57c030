package graftbench

/** The benchmark's query decks and the fixed table that attributes
  * every deck query to the one engine module that owns it. A query is
  * owned by the `graft.<module>` package whose code its builder calls;
  * builders written inline in Catalyst are owned by the Orange module
  * they mirror. */
object Decks {
  val Modules: Seq[String] =
    Seq("operators", "preprocess", "functions", "ml", "text", "similarity", "streaming")

  private def own(module: String, names: String*): Seq[(String, String)] =
    names.map(_ -> module)

  private val ownership: Seq[(String, String)] =
    own("operators", "filter_regex", "join_left_merge", "window_analytics", "melt",
      "groupby_weighted") ++
    own("preprocess", "discretize_equalfreq", "continuize_onehot") ++
    own("functions", "basic_stats", "contingency") ++
    own("ml", "ml_sgd_logreg", "ml_curvefit_exp") ++
    own("text", "dedup_ngram_jaccard", "dedup_simhash_pairs") ++
    own("similarity", "ann_bruteforce_cosine") ++
    own("streaming", "stream_dedup_fingerprint")

  val owner: Map[String, String] = ownership.toMap

  // `explore` is an Orange analysis session, exploration plus two
  // iterative learners; `curate` is LLM-data curation, batch beside
  // streaming. Each is the other's bypass case: ml and the
  // deterministic-sum aggregates run only in `explore`, the pair-join
  // dedup and the state store only in `curate`.
  val decks: Map[String, Seq[String]] = Map(
    "explore" -> Seq(
      "filter_regex", "join_left_merge", "window_analytics", "melt", "groupby_weighted",
      "discretize_equalfreq", "continuize_onehot", "basic_stats", "contingency",
      "ml_sgd_logreg", "ml_curvefit_exp"),
    "curate" -> Seq(
      "dedup_ngram_jaccard", "dedup_simhash_pairs", "ann_bruteforce_cosine",
      "stream_dedup_fingerprint")
  )

  /** The workload's deck, after checking that every name is registered in
    * `SparkEntry.queries` and owned by exactly one known module. Throws
    * with every offending name; nothing is skipped. */
  def resolve(workload: String, registered: Set[String]): Seq[String] = {
    val deck = decks.getOrElse(workload, throw new IllegalArgumentException(
      s"unknown workload '$workload'; expected one of ${decks.keys.toSeq.sorted.mkString(", ")}"))
    val missing = deck.filterNot(registered)
    val unowned = deck.filterNot(owner.contains)
    val multiOwned = deck.filter(n => ownership.count(_._1 == n) > 1)
    val badModule = deck.filter(n => owner.get(n).exists(m => !Modules.contains(m)))
    val dupes = deck.diff(deck.distinct)
    val problems = Seq(
      "not in SparkEntry.queries" -> missing,
      "not in the attribution table" -> unowned,
      "owned by more than one module" -> multiOwned,
      "attributed to an unknown module" -> badModule,
      "listed twice" -> dupes).filter(_._2.nonEmpty)
    require(problems.isEmpty, s"deck '$workload' is broken: " +
      problems.map { case (why, ns) => s"$why: ${ns.mkString(",")}" }.mkString("; "))
    deck
  }
}
