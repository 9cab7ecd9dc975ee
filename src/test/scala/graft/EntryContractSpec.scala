package graft

/** The driver contract: `SparkEntry.entry` must return rows on the
  * sf0.001 fixture (the driver's smoke check), every `oracleSql`
  * key must name a registered query (a dangling oracle would be
  * silently ignored by the gate), and no query is registered twice.
  */
class EntryContractSpec extends SparkSpec {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key names a registered query, numbering is gapless") {
    val dangling = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
    val nums = SparkEntry.queries.keySet
      .map(_.drop(1).takeWhile(_.isDigit).toInt)
    val missing = (1 to nums.max).toSet.diff(nums)
    assert(missing.isEmpty, s"registry numbering holes: ${missing.toSeq.sorted}")
  }

  test("no query name or number is registered twice") {
    // the views are Maps: a second entry under one name would silently
    // replace the first, so check the concatenated registry itself
    val names = SparkEntry.registry.map(_.name)
    val twice = names.diff(names.distinct)
    assert(twice.isEmpty, s"names registered twice: $twice")
    val nums = names.map(_.drop(1).takeWhile(_.isDigit).toInt)
    val numTwice = nums.diff(nums.distinct)
    assert(numTwice.isEmpty, s"numbers registered twice: $numTwice")
    assert(SparkEntry.queries.size == names.size)
  }

  test("bench cost table covers the whole registry") {
    // the table is generated (tools/gen_cost_table.py) from each
    // round's closing bench run; a query added without refreshing it
    // would silently warm in Int.MaxValue-first order — fail loud here
    // instead
    val n = SparkEntry.queries.keySet
      .map(_.drop(1).takeWhile(_.isDigit).toInt).max
    assert(Bench.priorCostCs.length >= n,
      s"Bench.priorCostCs has ${Bench.priorCostCs.length} entries but the " +
        s"registry reaches q$n — regenerate with tools/gen_cost_table.py")
  }

  test("every bench boundary owner names a registered query") {
    val dangling = Bench.boundaryOwners.diff(SparkEntry.queries.keySet)
    assert(dangling.isEmpty, s"boundary owners not in registry: $dangling")
  }
}
