package graft.ring

import scala.collection.mutable.ArrayBuffer

/** Ring assembly — the reference's `merge_nodes`/`find_match` greedy stitch
  * (`/root/reference/src/converter.rs:35-105`), reproduced with identical
  * candidate-scan order.
  *
  * The reference uses `Vec::swap_remove` (remove index i by moving the LAST
  * element into slot i). That makes the output a deterministic function of
  * the input segment ORDER but not order-independent — a plain `remove(i)`
  * port silently diverges on ≥3-segment relations (SURVEY.md §7.4). We
  * replicate swap-remove exactly.
  *
  * Divergence (documented, SURVEY.md §7.4 item 4): a fully-empty segment is
  * undefined behavior in the reference (skipped as a match candidate at
  * converter.rs:92-94, but panics via `.first().unwrap()` at converter.rs:55
  * if selected as the seed). We drop empty segments up front; non-empty
  * behavior is bit-identical.
  */
object RingAssembler {

  /** A segment node: id drives matching, payload (lat/lon decimicro) rides
    * along — mirrors the reference stitching full `Node`s.
    */
  final case class SegNode(id: Long, latDm: Int, lonDm: Int)

  private def swapRemove[T](buf: ArrayBuffer[T], i: Int): T = {
    val v = buf(i)
    val last = buf.remove(buf.length - 1)
    if (i < buf.length) buf(i) = last
    v
  }

  /** `find_match` (converter.rs:83-105): first segment (in current buffer
    * order) whose head or tail id equals `nodeId`; swap-removed from the
    * buffer; reversed when matched at its tail.
    */
  private def findMatch(
      nodeId: Long,
      segs: ArrayBuffer[ArrayBuffer[SegNode]]): Option[ArrayBuffer[SegNode]] = {
    var i = 0
    while (i < segs.length) {
      val s = segs(i)
      if (s.nonEmpty) {
        if (s.head.id == nodeId) return Some(swapRemove(segs, i))
        else if (s.last.id == nodeId) {
          val r = swapRemove(segs, i)
          return Some(ArrayBuffer.from(r.reverseIterator))
        }
      }
      i += 1
    }
    None
  }

  /** `merge_nodes` (converter.rs:35-81) on one relation's segments. Input
    * segments in relation-member order; empty segments dropped (see above).
    */
  def assemble(segments: Seq[Seq[SegNode]]): Seq[Seq[SegNode]] = {
    val nodes = ArrayBuffer.from(
      segments.iterator.filter(_.nonEmpty).map(s => ArrayBuffer.from(s)))
    val result = ArrayBuffer.empty[ArrayBuffer[SegNode]]

    while (nodes.nonEmpty) {
      var path = swapRemove(nodes, 0)
      var continue = true
      while (continue) {
        findMatch(path.head.id, nodes) match {
          case Some(m) =>
            // matching_nodes.reverse(); matching_nodes.append(path) — converter.rs:57-60
            val pre = ArrayBuffer.from(m.reverseIterator)
            pre ++= path
            path = pre
          case None =>
            findMatch(path.last.id, nodes) match {
              case Some(m) => path ++= m // converter.rs:64-68
              case None    => continue = false
            }
        }
      }
      result += path
    }
    result.map(_.toSeq).toSeq
  }
}
