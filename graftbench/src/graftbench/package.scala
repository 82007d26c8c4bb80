package object graftbench {
  /** one query's top-k: (docId, score), best first */
  type Hits = Seq[(Long, Double)]
}
