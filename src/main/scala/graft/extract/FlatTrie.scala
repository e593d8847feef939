package graft.extract

import graft.text.CharScan

/** Flat-array token trie probed with buffer slices — the broadcast-side
  * companion of [[graft.text.CharScan]].
  *
  * [[Extractor.buildTrie]]'s node form (`Map[String, TrieNode]`) costs one
  * immutable-map probe plus a String hash per (position, depth) step of the
  * scan. This flattens the exact same trie into one global open-addressing
  * edge table keyed by (nodeId, token): a child step is one array probe
  * comparing the precomputed slice hash and then chars, with zero
  * allocation. Semantics are inherited wholesale from the node trie it is
  * built from (same first-match resolution, same tokenization), which the
  * differential spec (FusedKernelSpec) locks against the Map-walk model.
  *
  * Terminal payloads are indices into the `values` array returned by
  * [[FlatTrie.fromTrie]], which the extraction kernel uses as its entity
  * dictionary: a payload is its entity code. `values` is deduplicated, so
  * payload equality is value equality (the kernel's per-turn mention
  * dedup compares payload ints).
  */
final class FlatTrie private (
    nodePayload: Array[Int],
    edgeNode: Array[Int],
    edgeTokHash: Array[Int],
    edgeTok: Array[String],
    edgeChild: Array[Int],
    mask: Int) extends Serializable {

  /** Child of `node` along token `buf[start, end)` (hash `h` from the
    * String.hashCode recurrence), or -1 when absent. Root is node 0. */
  def child(node: Int, buf: Array[Char], start: Int, end: Int, h: Int): Int = {
    var idx = CharScan.mix(h * 31 + node) & mask
    var n = edgeNode(idx)
    while (n != -1) {
      if (n == node && edgeTokHash(idx) == h &&
          CharScan.eqSlice(edgeTok(idx), buf, start, end)) return edgeChild(idx)
      idx = (idx + 1) & mask
      n = edgeNode(idx)
    }
    -1
  }

  /** Payload index of `node`, or -1 for a non-terminal. */
  @inline def payload(node: Int): Int = nodePayload(node)
}

object FlatTrie {

  /** Flatten a node trie. Returns the trie and the deduplicated terminal
    * value array its payloads index. */
  def fromTrie(root: Extractor.TrieNode): (FlatTrie, Array[String]) = {
    val nodes = scala.collection.mutable.ArrayBuffer[Extractor.TrieNode](root)
    // per-node children sorted ONCE; reused by the edge-insertion pass so
    // the BFS child numbering and the edge targets can never disagree
    val sortedChildren = scala.collection.mutable.ArrayBuffer[Seq[(String, Extractor.TrieNode)]]()
    val values = scala.collection.mutable.ArrayBuffer[String]()
    val valueIdx = scala.collection.mutable.HashMap[String, Int]()
    // BFS numbering: children discovered after their parent, so edge
    // insertion below can reference child ids directly.
    var i = 0
    var nEdges = 0
    while (i < nodes.length) {
      val cs = nodes(i).children.toSeq.sortBy(_._1)
      sortedChildren += cs
      nEdges += cs.size
      cs.foreach { case (_, c) => nodes += c }
      i += 1
    }
    var cap = 4
    while (cap < nEdges * 2) cap <<= 1
    val mask = cap - 1
    val nodePayload = new Array[Int](nodes.length)
    val edgeNode = Array.fill(cap)(-1)
    val edgeTokHash = new Array[Int](cap)
    val edgeTok = new Array[String](cap)
    val edgeChild = new Array[Int](cap)

    var next = 1 // BFS child counter: same discovery order as above
    i = 0
    while (i < nodes.length) {
      val n = nodes(i)
      nodePayload(i) =
        if (n.entity == null) -1
        else valueIdx.getOrElseUpdate(n.entity, { values += n.entity; values.length - 1 })
      n.children.toSeq.sortBy(_._1).foreach { case (tok, _) =>
        val h = tok.hashCode
        var idx = CharScan.mix(h * 31 + i) & mask
        while (edgeNode(idx) != -1) idx = (idx + 1) & mask
        edgeNode(idx) = i; edgeTokHash(idx) = h; edgeTok(idx) = tok
        edgeChild(idx) = next
        next += 1
      }
      i += 1
    }
    (new FlatTrie(nodePayload, edgeNode, edgeTokHash, edgeTok, edgeChild, mask),
     values.toArray)
  }
}
