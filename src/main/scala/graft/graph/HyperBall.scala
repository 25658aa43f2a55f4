package graft.graph

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** The HyperBall register merge (Boldi & Vigna 2013): each node's HLL
  * state is m one-byte registers packed into ONE binary value, and the
  * ball union B(v,t) = B(v,t−1) ∪ ⋃_{u∈N(v)} B(u,t−1) becomes a
  * per-byte MAX of those packed vectors — associative, commutative,
  * idempotent, so partials combine MAP-SIDE and the per-round shuffle
  * carries ≤ |V| packed rows per partition instead of |E|·m skinny
  * (node, bucket, rho) rows. Measured on the sf0.1 co-purchase graph
  * (2.4M directed edges, m=64): the skinny formulation shuffled ~150M
  * rows per round (41 s total); the packed merge is the difference
  * between that and a ~40 MB combined shuffle.
  *
  * Mutation discipline: Spark's typed-aggregate path can hand every
  * group the SAME deserialized `zero` instance, so an unconditional
  * in-place `buf(i) = max(...)` smears one shared register vector
  * across all nodes (observed: every node's t=1 ball estimated ≈ the
  * GLOBAL node count at sf0.01 — caught by the DuckDB register-replay
  * oracle). The round-13 fix allocated a fresh 64-byte array per
  * [[reduce]] — ~5M allocations + copies per propagation round at
  * sf0.1. r14: `zero` is the EMPTY array sentinel, so the shared zero
  * is never mutated (first reduce clones the incoming row's vector —
  * one allocation per GROUP); every later reduce/merge mutates the
  * clone, which this aggregator provably owns. Incoming `v`/`y` values
  * are never written. [[graft.similarity.Ann.TopKAggregator]] sidesteps
  * the same hazard with immutable Vectors.
  */
class RegMaxAggregator(m: Int)
    extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
  override def zero: Array[Byte] = Array.emptyByteArray
  override def reduce(buf: Array[Byte], v: Array[Byte]): Array[Byte] = {
    // Every input row must carry exactly m registers: a short one would
    // throw mid-loop, a long one would be silently cut to m.
    require(v.length == m, s"RegMaxAggregator: register vector of ${v.length} bytes, expected $m")
    if (buf.length == 0) v.clone()
    else {
      var i = 0
      while (i < m) { if (v(i) > buf(i)) buf(i) = v(i); i += 1 }
      buf
    }
  }
  override def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] =
    if (x.length == 0) y else reduce(x, y)
  override def finish(b: Array[Byte]): Array[Byte] =
    if (b.length == 0) new Array[Byte](m) else b
  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
