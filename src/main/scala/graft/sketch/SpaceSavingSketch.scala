package graft.sketch

import scala.collection.mutable

import graft.sketch.core.Codec

/** Space-Saving stream summary for frequent values / top-k
  * (Metwally, Agrawal & El Abbadi; reference:
  * /root/reference/src/stream-summary.js). Guarantee per tracked value:
  * `true <= count <= true + error`.
  *
  * The bucketed doubly-linked-list layout mirrors the reference exactly so
  * scripted add sequences produce identical states (stream-summary.js:40-138):
  * buckets ascend in count order from `bucketsHead.next`; each bucket holds a
  * circular list of entries with that count.
  */
final class SpaceSavingSketch(val capacity: Int) extends Serializable {
  import SpaceSavingSketch._

  private[sketch] val values = mutable.HashMap.empty[String, Entry]
  private[sketch] val bucketsHead: Bucket = {
    val h = new Bucket(-1L)
    h.next = h; h.prev = h
    h
  }
  private[sketch] var count_ = 0 // number of tracked entries

  def trackedSize: Int = count_

  /** Add `count` occurrences of `v`. Miss-when-full evicts the min-bucket head
    * entry, reusing its node and inheriting its count as error
    * (stream-summary.js:84-103).
    */
  def add(v: String, count: Long = 1L): Unit = {
    var node = values.getOrElse(v, null)
    if (node == null) {
      if (count_ < capacity) {
        val b = insertBucket(bucketsHead, new Bucket(0L))
        node = insertEntry(b.list, new Entry(v, b))
        count_ += 1
      } else {
        val b = bucketsHead.next
        node = b.list.next
        values.remove(node.value)
        node.value = v
        node.error = b.count
      }
      values.update(v, node)
    }
    increment(node, count)
  }

  /** Move a node to the bucket matching its new count
    * (stream-summary.js:106-138).
    */
  private def increment(node: Entry, count: Long): Unit = {
    val head = bucketsHead
    val old = node.bucket
    var prev = old
    var next = prev.next

    detachEntry(node)
    node.count += count

    var done = false
    while (!done && (next ne head)) {
      if (node.count == next.count) {
        insertEntry(next.list, node)
        done = true
      } else if (node.count > next.count) {
        prev = next
        next = prev.next
      } else {
        next = head
      }
    }

    if (next eq head) {
      next = new Bucket(node.count)
      insertEntry(next.list, node)
      insertBucket(prev, next)
    }
    node.bucket = next

    if (old.list.next eq old.list) detachBucket(old)
  }

  /** Approximate count for `v`, 0 if untracked. */
  def query(v: String): Long = values.get(v).map(_.count).getOrElse(0L)

  /** Overestimation bound for `v`, -1 if untracked. */
  def error(v: String): Long = values.get(v).map(_.error).getOrElse(-1L)

  /** Entries in decreasing-frequency order (stream-summary.js:183-200);
    * k = None → all tracked.
    */
  def topK(k: Option[Int] = None): Seq[(String, Long, Long)] = {
    val kk = k match {
      case Some(0)            => return Seq.empty
      case Some(x) if x > 0   => x
      case _                  => count_
    }
    val out = Seq.newBuilder[(String, Long, Long)]
    var taken = 0
    var b = bucketsHead.prev
    while ((b ne bucketsHead) && taken < kk) {
      var e = b.list.prev
      while ((e ne b.list) && taken < kk) {
        out += ((e.value, e.count, e.error))
        taken += 1
        e = e.prev
      }
      b = b.prev
    }
    out.result()
  }

  /** Min tracked count — the overestimation floor an untracked value could
    * have (0 if the summary is not yet full).
    */
  def minCount: Long =
    if (count_ < capacity) 0L
    else if (bucketsHead.next eq bucketsHead) 0L
    else bucketsHead.next.count

  /** Distributed merge (absent in the reference; designed per Cafaro/Agrawal,
    * SURVEY.md §2.4): for a value tracked in both, sum counts and errors; for
    * a value tracked in only one, add the other side's min tracked count to
    * both count and error. Keep the top `capacity` by count (ties broken by
    * error then value for determinism). Preserves
    * `true <= count <= true + error` per retained value.
    */
  def mergeInPlace(that: SpaceSavingSketch): this.type = {
    require(that.capacity == capacity, "StreamSummary capacities do not match.")
    val minA = minCount
    val minB = that.minCount
    val combined = mutable.HashMap.empty[String, (Long, Long)]
    values.foreach { case (v, e) => combined.update(v, (e.count + minB, e.error + minB)) }
    that.values.foreach { case (v, e) =>
      combined.get(v) match {
        case Some((c, err)) => combined.update(v, (c + e.count - minB, err + e.error - minB))
        case None           => combined.update(v, (e.count + minA, e.error + minA))
      }
    }
    val kept = combined.toSeq
      .map { case (v, (c, err)) => (v, c, err) }
      .sortBy { case (v, c, err) => (-c, err, v) }
      .take(capacity)
    reset()
    // insert lowest-count first so bucket construction is a simple ascending walk
    kept.reverse.foreach { case (v, c, err) =>
      val b = insertBucket(bucketsHead.prev, new Bucket(c))
      // merge equal-count values into one bucket
      val target =
        if (b.prev.count == c && (b.prev ne bucketsHead)) { detachBucket(b); b.prev }
        else b
      val e = insertEntry(target.list, new Entry(v, target))
      e.count = c
      e.error = err
      values.update(v, e)
      count_ += 1
    }
    this
  }

  private def reset(): Unit = {
    values.clear()
    bucketsHead.next = bucketsHead
    bucketsHead.prev = bucketsHead
    count_ = 0
  }

  /** Ascending-bucket export order matching stream-summary.js:203-218. */
  def exportBuckets: Seq[(Long, Seq[(String, Long)])] = {
    val out = Seq.newBuilder[(Long, Seq[(String, Long)])]
    var b = bucketsHead.next
    while (b ne bucketsHead) {
      val es = Seq.newBuilder[(String, Long)]
      var e = b.list.next
      while (e ne b.list) { es += ((e.value, e.error)); e = e.next }
      out += ((b.count, es.result()))
      b = b.next
    }
    out.result()
  }

  def toBytes: Array[Byte] = {
    var payload = 0
    values.keysIterator.foreach(k => payload += 24 + 3 * k.length)
    val bb = Codec.writer(32 + payload, Codec.TagSpaceSaving)
    bb.putInt(capacity)
    val buckets = exportBuckets
    bb.putInt(buckets.size)
    buckets.foreach { case (count, entries) =>
      bb.putLong(count)
      bb.putInt(entries.size)
      entries.foreach { case (v, err) => Codec.writeString(bb, v); bb.putLong(err) }
    }
    Codec.finish(bb)
  }
}

object SpaceSavingSketch {
  val DefaultCounters = 100 // stream-summary.js:1

  private[sketch] final class Bucket(var count: Long) {
    var next: Bucket = _
    var prev: Bucket = _
    val list: Entry = {
      val s = new Entry(null, this)
      s.next = s; s.prev = s
      s
    }
  }

  private[sketch] final class Entry(var value: String, var bucket: Bucket) {
    var count: Long = 0L
    var error: Long = 0L
    var next: Entry = _
    var prev: Entry = _
  }

  /** Insert `curr` ahead of `list` (stream-summary.js:62-69). */
  private def insertBucket(list: Bucket, curr: Bucket): Bucket = {
    val next = list.next
    curr.next = next; curr.prev = list
    list.next = curr; next.prev = curr
    curr
  }
  private def insertEntry(list: Entry, curr: Entry): Entry = {
    val next = list.next
    curr.next = next; curr.prev = list
    list.next = curr; next.prev = curr
    curr
  }
  private def detachBucket(curr: Bucket): Unit = {
    val n = curr.next; val p = curr.prev
    p.next = n; n.prev = p
  }
  private def detachEntry(curr: Entry): Unit = {
    val n = curr.next; val p = curr.prev
    p.next = n; n.prev = p
  }

  def apply(capacity: Int = DefaultCounters): SpaceSavingSketch =
    new SpaceSavingSketch(capacity)

  /** Rebuild from exported buckets (ascending order), mirroring
    * stream-summary.js:20-37.
    */
  def fromBuckets(capacity: Int, buckets: Seq[(Long, Seq[(String, Long)])]): SpaceSavingSketch = {
    val ss = new SpaceSavingSketch(capacity)
    buckets.foreach { case (count, entries) =>
      val b = insertBucket(ss.bucketsHead.prev, new Bucket(count))
      entries.foreach { case (v, err) =>
        val e = insertEntry(b.list.prev, new Entry(v, b))
        e.count = count
        e.error = err
        ss.count_ += 1
        ss.values.update(v, e)
      }
    }
    ss
  }

  def fromBytes(bytes: Array[Byte]): SpaceSavingSketch =
    Codec.decode(bytes, Codec.TagSpaceSaving) { bb =>
      val cap = bb.getInt()
      val nb = Codec.readCount(bb, 12)
      val buckets = (0 until nb).map { _ =>
        val count = bb.getLong()
        val ne = Codec.readCount(bb, 12)
        val entries = (0 until ne).map(_ => (Codec.readString(bb), bb.getLong()))
        (count, entries)
      }
      fromBuckets(cap, buckets)
    }
}
