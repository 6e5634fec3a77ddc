package graft.sketch

import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON interop codec, shape-compatible with the reference's `export()` /
  * `import()` surfaces (SURVEY.md §2.5): Bloom `{depth, bits}`
  * (bloom.js:147-152), CountMin/CMM `{num, depth, counts}`
  * (count-min.js:106-112), NGram `{n, case, counts}` (ngram.js:83-89),
  * StreamSummary `{w, buckets:[[count, v, e, …]…]}`
  * (stream-summary.js:203-218), TDigest
  * `{centroids, min, max, mean, weight}` (t-digest.js:296-305).
  *
  * The binary codec (`toBytes`) is the canonical on-cluster format; JSON is
  * for golden interop with the reference and for human inspection. Uses the
  * json4s that ships on Spark's classpath.
  */
object JsonCodec {

  // ---- export ----

  def toJson(s: BloomSketch): String =
    JsonMethods.compact(JsonMethods.render(
      JObject("depth" -> JInt(s.depth), "bits" -> JArray(s.words.map(w => JInt(BigInt(w))).toList))))

  def toJson(s: CmsSketch): String = {
    JsonMethods.compact(JsonMethods.render(
      JObject(
        "num" -> JInt(BigInt(s.num)),
        "depth" -> JInt(s.depth),
        "counts" -> JArray(s.table.map(c => JInt(BigInt(c))).toList))))
  }

  def toJson(s: NGramSketch): String =
    JsonMethods.compact(JsonMethods.render(
      JObject(
        "n" -> JInt(s.n),
        "case" -> JBool(s.caseSensitive),
        "counts" -> JObject(s.counts.toSeq.sortBy(_._1).map {
          case (k, v) => k -> (JInt(BigInt(v)): JValue)
        }.toList))))

  def toJson(s: SpaceSavingSketch): String =
    JsonMethods.compact(JsonMethods.render(
      JObject(
        "w" -> JInt(s.capacity),
        "buckets" -> JArray(s.exportBuckets.map { case (count, entries) =>
          JArray(JInt(BigInt(count)) ::
            entries.flatMap { case (v, e) => List(JString(v), JInt(BigInt(e))) }.toList)
        }.toList))))

  def toJson(s: TDigestSketch): String = {
    val (means, weights) = s.centroids
    JsonMethods.compact(JsonMethods.render(
      JObject(
        "centroids" -> JInt(s.compression),
        "min" -> JDouble(s.minValue),
        "max" -> JDouble(s.maxValue),
        "mean" -> JArray(means.map(JDouble(_): JValue).toList),
        "weight" -> JArray(weights.map(JDouble(_): JValue).toList))))
  }

  // ---- import ----

  private def num(j: JValue): Long = j match {
    case JInt(v) => v.toLong; case JLong(v) => v; case JDouble(v) => v.toLong
    case JDecimal(v) => v.toLong; case o => sys.error(s"not a number: $o")
  }
  private def dbl(j: JValue): Double = j match {
    case JInt(v) => v.toDouble; case JLong(v) => v.toDouble; case JDouble(v) => v
    case JDecimal(v) => v.toDouble; case o => sys.error(s"not a number: $o")
  }

  def bloomFromJson(json: String): BloomSketch = {
    val j = JsonMethods.parse(json)
    val bits = (j \ "bits").asInstanceOf[JArray].arr.map(v => num(v).toInt).toArray
    BloomSketch.fromWords(bits, num(j \ "depth").toInt)
  }

  def cmsFromJson(json: String): CmsSketch = {
    val j = JsonMethods.parse(json)
    val counts = (j \ "counts").asInstanceOf[JArray].arr.map(num).toArray
    val d = num(j \ "depth").toInt
    val w = counts.length / math.max(d, 1) // a depth below 1 fails the check
    CmsSketch.requireShape(w, d, counts.length)
    new CmsSketch(w, d, counts, num(j \ "num"))
  }

  def cmmFromJson(json: String): CmmSketch = {
    val c = cmsFromJson(json)
    new CmmSketch(c.width, c.depth, c.table, c.num)
  }

  def ngramFromJson(json: String): NGramSketch = {
    val j = JsonMethods.parse(json)
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    (j \ "counts").asInstanceOf[JObject].obj.foreach { case (k, v) => m.update(k, num(v)) }
    new NGramSketch(num(j \ "n").toInt,
      (j \ "case") match { case JBool(b) => b; case _ => false }, m)
  }

  def spaceSavingFromJson(json: String): SpaceSavingSketch = {
    val j = JsonMethods.parse(json)
    val buckets = (j \ "buckets").asInstanceOf[JArray].arr.map {
      case JArray(count :: rest) =>
        (num(count), rest.grouped(2).map {
          case List(JString(v), e) => (v, num(e))
          case o                   => sys.error(s"bad bucket entry $o")
        }.toSeq)
      case o => sys.error(s"bad bucket $o")
    }
    SpaceSavingSketch.fromBuckets(num(j \ "w").toInt, buckets)
  }

  def tdigestFromJson(json: String): TDigestSketch = {
    val j = JsonMethods.parse(json)
    val means = (j \ "mean").asInstanceOf[JArray].arr.map(dbl)
    val weights = (j \ "weight").asInstanceOf[JArray].arr.map(dbl)
    TDigestSketch.fromCentroids(
      num(j \ "centroids").toInt,
      dbl(j \ "min"), dbl(j \ "max"),
      means.toArray, weights.toArray)
  }
}
