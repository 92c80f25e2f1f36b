package perfbench

import graft.core.QueryDef
import graft.streaming.Streams

/** The registered queries grouped by the package that defines them, built
  * from the public `all` / `queries` members (streaming registers its
  * queries one by one, so they are listed by member).
  */
object Registry {
  val Packages: Seq[String] = Seq("rentals", "ops", "sources", "streaming", "text", "vector", "multimodal")

  lazy val byPackage: Seq[(String, Seq[QueryDef])] = Seq(
    "rentals" -> graft.rentals.RentalsDemo.queries,
    "ops" -> {
      import graft.ops._
      Relational.all ++ Analytics.all ++ Events.all ++ Sketches.all ++ RuntimeFilter.all ++ Layout.all ++
        Physical.all ++ Ranking.all ++ Graph.all
    },
    "sources" -> graft.sources.Roundtrips.all,
    "streaming" -> Seq(
      Streams.streamingHourly, Streams.streamingHourlyAppend, Streams.streamingDedupExact,
      Streams.streamStreamJoin, Streams.streamStaticJoin, Streams.streamingUserTotals,
      Streams.streamingSessionWindows, Streams.streamingTypeCounts, Streams.streamingHoppingAppend,
      Streams.streamingIncrementalSink, Streams.streamingTwsTypeStats, Streams.streamStreamLeftJoin,
      Streams.streamStreamFullJoin, Streams.streamingAsofEnrich, Streams.streamingStatefulRestart),
    "text" -> {
      import graft.text._
      TextAnalysis.all ++ Dedup.all ++ Corpus.all ++ LanguageModel.all
    },
    "vector" -> graft.vector.Similarity.all,
    "multimodal" -> graft.multimodal.Multimodal.all)

  lazy val packageOf: Map[String, String] =
    byPackage.flatMap { case (p, qs) => qs.map(_.name -> p) }.toMap

  /** Differences between the package map and `SparkEntry.queries`; empty
    * when every registered query sits in exactly one package.
    */
  def mismatches(): Seq[String] = {
    val listed = byPackage.flatMap(_._2.map(_.name))
    val registered = graft.SparkEntry.queries.keySet
    val twice = listed.diff(listed.distinct).map(n => s"listed twice: $n")
    val missing = (registered -- listed).toSeq.sorted.map(n => s"in no package: $n")
    val extra = (listed.toSet -- registered).toSeq.sorted.map(n => s"not registered: $n")
    twice ++ missing ++ extra
  }
}
