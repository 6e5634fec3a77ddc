package graft.sketch

import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import Golden._

/** JSON interop: our `toJson` must equal the reference's `export()` output
  * (same golden state), and `fromJson(reference export)` must rebuild a
  * sketch whose state round-trips.
  */
class JsonCodecSpec extends AnyFunSuite {

  test("Bloom toJson == reference export; fromJson rebuilds state") {
    val g = Golden.load("bloom.json")
    val c = arr(g \ "cases").head
    val a = BloomSketch(int(c \ "w"), int(c \ "d"))
    strings(c \ "addA").foreach(a.add)
    assert(JsonMethods.parse(JsonCodec.toJson(a)) == (c \ "exportA"))
    val back = JsonCodec.bloomFromJson(JsonMethods.compact(
      JsonMethods.render(c \ "exportA")))
    assert(back.words.toSeq == a.words.toSeq && back.depth == a.depth)
  }

  test("CMS/CMM toJson == reference export; fromJson rebuilds state") {
    val g = Golden.load("cms.json")
    val c = arr(g \ "cases").head
    val a = CmsSketch(int(c \ "w"), int(c \ "d"))
    strings(c \ "addsA").foreach(v => a.add(v))
    assert(JsonMethods.parse(JsonCodec.toJson(a)) == (c \ "exportA"))
    val back = JsonCodec.cmsFromJson(JsonMethods.compact(JsonMethods.render(c \ "exportA")))
    assert(back.table.toSeq == a.table.toSeq && back.num == a.num && back.width == a.width)
    val cm = JsonCodec.cmmFromJson(JsonMethods.compact(JsonMethods.render(c \ "exportA")))
    assert(cm.table.toSeq == a.table.toSeq)
  }

  test("NGram toJson == reference export; fromJson rebuilds state") {
    val g = Golden.load("ngram.json")
    val c = arr(g \ "cases").head
    val a = NGramSketch(int(c \ "n"), bool(c \ "cs"))
    a.add(strings(org.json4s.JArray(List((c \ "sA")))).head)
    a.add(strings(org.json4s.JArray(List((c \ "extra")))).head)
    assert(JsonMethods.parse(JsonCodec.toJson(a)) == (c \ "exportA"))
    val back = JsonCodec.ngramFromJson(JsonMethods.compact(JsonMethods.render(c \ "exportA")))
    assert(back.counts.toMap == a.counts.toMap && back.n == a.n)
  }

  test("StreamSummary toJson == reference export; fromJson rebuilds state") {
    val g = Golden.load("stream-summary.json")
    arr(g \ "cases").foreach { c =>
      val ss = SpaceSavingSketch(int(c \ "w"))
      arr(c \ "script").foreach {
        case org.json4s.JArray(List(org.json4s.JString(v), cnt)) => ss.add(v, long(cnt))
        case o => fail(s"bad script $o")
      }
      assert(JsonMethods.parse(JsonCodec.toJson(ss)) == (c \ "export"))
      val back = JsonCodec.spaceSavingFromJson(
        JsonMethods.compact(JsonMethods.render(c \ "export")))
      assert(back.exportBuckets == ss.exportBuckets)
    }
  }

  test("TDigest toJson values match reference export at 1e-9; fromJson round-trips") {
    val g = Golden.load("tdigest.json")
    val c = arr(g \ "cases").head
    val td = TDigestSketch(int(c \ "nc"))
    doubles(c \ "values").foreach(v => td.add(v))
    val mine = JsonMethods.parse(JsonCodec.toJson(td))
    assert(int(mine \ "centroids") == int(c \ "export" \ "centroids"))
    doubles(mine \ "mean").zip(doubles(c \ "export" \ "mean")).foreach {
      case (a, b) => assert(math.abs(a - b) < 1e-9)
    }
    doubles(mine \ "weight").zip(doubles(c \ "export" \ "weight")).foreach {
      case (a, b) => assert(a == b)
    }
    val back = JsonCodec.tdigestFromJson(JsonCodec.toJson(td))
    Seq(0.1, 0.5, 0.9).foreach(q => assert(back.quantile(q) == td.quantile(q)))
  }

  // JSON import applies the binary decoder's shape rule
  for ((what, read) <- Seq[(String, () => Any)](
      "CMS depth 0" -> (() => JsonCodec.cmsFromJson("""{"num":0,"depth":0,"counts":[0,0]}""")),
      "CMS with 4 counts at depth 3" ->
        (() => JsonCodec.cmsFromJson("""{"num":4,"depth":3,"counts":[1,1,1,1]}""")),
      "CMM with 4 counts at depth 3" ->
        (() => JsonCodec.cmmFromJson("""{"num":4,"depth":3,"counts":[1,1,1,1]}""")),
      "Bloom depth -1" -> (() => JsonCodec.bloomFromJson("""{"depth":-1,"bits":[0]}""")),
      "Bloom depth 5000" -> (() => JsonCodec.bloomFromJson("""{"depth":5000,"bits":[0]}""")),
      "Bloom without bits" -> (() => JsonCodec.bloomFromJson("""{"depth":3,"bits":[]}""")))) {
    test(s"JSON import of a $what fails with IllegalArgumentException") {
      intercept[IllegalArgumentException](read())
    }
  }
}
