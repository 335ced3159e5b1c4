package graft

/** Guards the driver contract: every oracle belongs to a query, the
  * bench headline set exists, and the flagship entry returns rows. */
class ContractSpec extends SparkSpec {

  test("every oracle key has a matching query") {
    val orphan = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphan.isEmpty, s"oracles without queries: $orphan")
  }

  test("only the approximate queries lack an oracle") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly === Set("q_ann_lsh", "q_ann_ivf", "q_ann_pq", "q_ann_ivfpq",
      "q_ann_ivfpq_snapshot", "q_dedup_embedding_lsh", "q_ccnet_buckets_approx",
      "q_embed_snapshot_lsh"),
      s"unexpected rows-only set: $rowsOnly")
  }

  test("SURVEY §2 inventory and the query registry agree exactly") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), java.nio.charset.StandardCharsets.UTF_8)
    // query keys are `q_<name>` or `q<digit>...` — plain column names
    // like `qc`/`qn` also appear backticked in SURVEY and must not match
    val documented = "`(q(?:_|\\d)[a-z0-9_]*)`".r.findAllMatchIn(survey).map(_.group(1)).toSet
    val registered = SparkEntry.queries.keySet
    val undocumented = registered -- documented
    assert(undocumented.isEmpty, s"queries missing from SURVEY §2: $undocumented")
    val unimplemented = documented -- registered
    assert(unimplemented.isEmpty, s"SURVEY §2 keys without a query: $unimplemented")
  }

  test("bench headline queries all exist") {
    val missing = Bench.tiers.flatten.toSet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"headline names without queries: $missing")
    // a query in two tiers would be double-counted in the totals
    for (i <- Bench.tiers.indices; j <- 0 until i)
      assert(Bench.tiers(i).intersect(Bench.tiers(j)).isEmpty, s"tiers ${j + 1} and ${i + 1} overlap")
  }

  test("flagship entry returns rows on the smoke scale factor") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and returns a non-empty result at sf0.001") {
    val empty = RegistrySweep(spark).collect { case q if q.rows == 0 => q.name }
    // pair-finding queries may legitimately be empty at tiny scale —
    // document which, so a regression to empty elsewhere is caught
    assert(empty.forall(_.startsWith("q_dedup_")) && empty.size <= 2,
      s"unexpectedly empty results: $empty")
  }
}
