package graft.functions

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}
import scala.collection.mutable

/** Misra–Gries frequent-items state: ≤ k tracked keys with
  * lower-bound counters, plus the total decrement mass `err` — for
  * every key (tracked or not), true_count − err ≤ counter ≤
  * true_count, so any key with true frequency > err is guaranteed
  * tracked. When `err` == 0 (no eviction anywhere — the distinct
  * count stayed ≤ k in every partial and every merge), the sketch
  * is EXACT, which is what lets the gate oracle-check the registered
  * query against plain exact counts. This is the NORMALIZED external
  * face ([[MisraGries.finish]]); accumulation runs on [[MGAcc]]. */
case class MGBuf(counters: Map[Long, Long], err: Long)

/** Mutable Misra–Gries accumulation state with the LAZY global
  * decrement offset: a live key's counter is
  * `raw − dec`, and the classic decrement-all step is `dec += 1` —
  * O(1), no map rebuild — with the dying minimum layer accounted
  * through `hist` (live raw value → #keys), so `live` stays exact
  * without a scan. Keys whose raw ≤ dec are DEAD and removed lazily:
  * an overwriting re-insert reclaims the slot, and a compaction
  * sweep runs only once ≥ k dead entries have accumulated — paid for
  * by the ≥ k inserts since the last sweep, so eviction-regime
  * reduce is amortized O(1) per element (an eager decrement-all
  * would rebuild a k-entry map per unmatched arrival — O(n·k)
  * allocation, at odds with bounded memory at any scale). Memory stays
  * ≤ 2k counter slots + ≤ k histogram slots. */
final class MGAcc(
    var counters: mutable.LongMap[Long],
    val hist: mutable.LongMap[Long],
    var live: Int,
    var err: Long,
    var dec: Long) extends Serializable {
  /** The normalized immutable face: offset applied, dead keys
    * dropped. */
  def toBuf: MGBuf = MGBuf(
    counters.iterator.collect {
      case (key, raw) if raw > dec => key -> (raw - dec)
    }.toMap,
    err)
}

/** The Misra–Gries heavy-hitters sketch as a typed Spark Aggregator
  * (Misra & Gries 1982; merge rule from Agarwal et al. 2013,
  * "Mergeable Summaries"): each map task folds its partition into a
  * ≤ k-counter summary, and partials MERGE by counter-sum then
  * subtract-the-(k+1)-th-largest — so the exchange carries ≤ k rows
  * per partition regardless of input size or key cardinality. This
  * is THE bounded-memory answer to "top sources/users/tokens over
  * 100 TB" when the key domain is too large to groupBy exactly:
  * memory is O(k), error is ≤ n/(k+1) additive, and every key with
  * frequency above that bound is guaranteed present.
  *
  * Determinism: with no eviction (distinct ≤ k throughout) the
  * result is the exact count map, independent of partitioning; under
  * eviction the counters (not the guarantees) depend on the merge
  * tree, which is the standard sketch contract — the spec pins the
  * bounds, the gate runs in the exact regime. */
class MisraGries(k: Int) extends Aggregator[Long, MGAcc, MGBuf] {
  override def zero: MGAcc =
    new MGAcc(mutable.LongMap.empty, mutable.LongMap.empty, 0, 0L, 0L)

  private def histAdd(a: MGAcc, v: Long, d: Long): Unit = {
    val n = a.hist.getOrElse(v, 0L) + d
    if (n == 0L) a.hist.remove(v) else a.hist(v) = n
  }

  override def reduce(a: MGAcc, key: Long): MGAcc = {
    val raw = a.counters.getOrElse(key, 0L)
    if (raw > a.dec) {
      // tracked: bump the raw counter and move it up one hist layer
      a.counters(key) = raw + 1
      histAdd(a, raw, -1); histAdd(a, raw + 1, 1L)
    } else if (a.live < k) {
      // untracked with room (the slot may hold a dead entry — the
      // overwrite reclaims it): live counter 1 ⇒ raw = dec + 1
      a.counters(key) = a.dec + 1
      histAdd(a, a.dec + 1, 1L)
      a.live += 1
      // lazy compaction: ≥ k dead slots pending ⇒ one sweep, paid
      // for by the ≥ k inserts since the last one. Rebuild into a
      // FRESH map — removing from a LongMap while iterating it is
      // undefined (open addressing repacks under the iterator; a
      // corrupted table can probe forever)
      if (a.counters.size >= a.live + k) {
        val d = a.dec
        val fresh = mutable.LongMap.empty[Long]
        a.counters.foreachEntry((key, r) => if (r > d) fresh(key) = r)
        a.counters = fresh
      }
    } else {
      // decrement-all as an offset bump — O(1); the minimum layer
      // (raw == new dec) dies wholesale, tracked via the histogram
      a.dec += 1
      a.err += 1
      a.hist.get(a.dec).foreach { d =>
        a.live -= d.toInt
        a.hist.remove(a.dec)
      }
    }
    a
  }

  override def merge(x: MGAcc, y: MGAcc): MGAcc = {
    // merges are per-partial (rare next to reduce): normalize both
    // sides, counter-sum, then subtract the (k+1)-th largest count
    // and keep positives — the mergeable-summaries rule: ≤ k
    // survivors, undercounts grow by exactly the cut
    val (xa, ya) = (x.toBuf, y.toBuf)
    val sum = (xa.counters.keySet ++ ya.counters.keySet).iterator.map(key =>
      key -> (xa.counters.getOrElse(key, 0L) + ya.counters.getOrElse(key, 0L)))
      .toMap
    val (kept, err) =
      if (sum.size <= k) (sum, xa.err + ya.err)
      else {
        val cut = sum.values.toSeq.sorted(Ordering[Long].reverse)(k)
        (sum.view.mapValues(_ - cut).filter(_._2 > 0).toMap,
          xa.err + ya.err + cut)
      }
    val acc = zero
    kept.foreach { case (key, v) =>
      acc.counters(key) = v
      histAdd(acc, v, 1L)
    }
    acc.live = kept.size
    acc.err = err
    acc
  }

  override def finish(r: MGAcc): MGBuf = r.toBuf
  // java serialization, NOT kryo: kryo's unsafe field serializer
  // mangles LongMap's open-addressed internals on the wire (observed
  // as a SIGSEGV in its iterator after deserialization); buffers
  // cross the wire only at the partial/final exchange — ≤ one ≤
  // 2k-entry summary per task — so the encoder is off the hot path
  override def bufferEncoder: Encoder[MGAcc] = Encoders.javaSerialization[MGAcc]
  override def outputEncoder: Encoder[MGBuf] = Encoders.product[MGBuf]
}
