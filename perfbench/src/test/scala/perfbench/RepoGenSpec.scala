package perfbench

import org.scalatest.funsuite.AnyFunSuite

class RepoGenSpec extends AnyFunSuite {
  private val rescan = PipelineSpec(batchSize = 200, reseenShare = 0.9,
    ruleShare = 0.85, descLength = 80, nullShare = 0.05, warmup = 2, batches = 1)
  private val bulk = PipelineSpec(batchSize = 500, reseenShare = 0.1,
    ruleShare = 0.2, descLength = 400, nullShare = 0.3, warmup = 2, batches = 1)

  test("the same seed gives byte-identical batches") {
    for (spec <- Seq(rescan, bulk); b <- 0 until 4) {
      val one = new RepoGen(spec, 7L).batch(b)
      val two = new RepoGen(spec, 7L).batch(b)
      assert(one.mkString("\n").getBytes("UTF-8") sameElements two.mkString("\n").getBytes("UTF-8"))
    }
    assert(new RepoGen(rescan, 7L).batch(1) !== new RepoGen(rescan, 8L).batch(1))
  }

  test("the stated share of each batch was in the previous batch") {
    for ((spec, reseen) <- Seq(rescan -> 180, bulk -> 50)) {
      val g = new RepoGen(spec, 3L)
      for (b <- 1 to 3) {
        val (prev, now) = (g.ids(b - 1).toSet, g.ids(b))
        assert(now.distinct.length === spec.batchSize)
        assert(now.count(prev.contains) === reseen)
      }
    }
  }

  test("a repository's star count changes from batch to batch") {
    val g = new RepoGen(rescan, 1L)
    val id = g.ids(1).head
    assert(g.stars(2, id) > g.stars(1, id))
  }

  test("descriptions have the stated length and the stated shares hit a rule or are null") {
    val g = new RepoGen(bulk, 5L)
    val ids = (1L to 4000L)
    def near(n: Int, share: Double) = math.abs(n.toDouble / ids.size - share) < 0.03
    assert(near(ids.count(g.hitsRule(_)), 0.2))
    for (field <- Seq("description", "language", "topics"))
      assert(near(ids.count(id => g.json(0, id).contains(s""""$field":null""")), 0.3), field)
    val desc = "\"description\":\"([^\"]*)\"".r
    val withDesc = ids.find(!g.isNull(_, "description")).get
    assert(desc.findFirstMatchIn(g.json(0, withDesc)).get.group(1).length === 400)
  }
}
