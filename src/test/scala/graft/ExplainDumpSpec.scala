package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ExplainDump

/** ExplainDump's masking: every run-dependent field of a formatted plan
  * maps to a fixed stand-in, and the rest of the line is untouched. */
class ExplainDumpSpec extends AnyFunSuite {

  test("mask replaces ids, pids, summary versions, hashes, lambdas and RDD ids") {
    val cases = Seq(
      "Arguments: hashpartitioning(o_orderpriority#11, 4), ENSURE_REQUIREMENTS, [plan_id=15]" ->
        "Arguments: hashpartitioning(o_orderpriority#N, 4), ENSURE_REQUIREMENTS, [plan_id=N]",
      "Location: InMemoryFileIndex [file:/tmp/graft_labels_22316__data_sf0.001]" ->
        "Location: InMemoryFileIndex [file:/tmp/graft_labels_<pid>__data_sf0.001]",
      "Location: InMemoryFileIndex [file:/tmp/graft_substr_idx_907__data_sf0.001/fps]" ->
        "Location: InMemoryFileIndex [file:/tmp/graft_substr_idx_<pid>__data_sf0.001/fps]",
      "Location: InMemoryFileIndex [file:/tmp/graft_mvrefresh__data_sf0.001/summary-v230c191acbca]" ->
        "Location: InMemoryFileIndex [file:/tmp/graft_mvrefresh__data_sf0.001/summary-v<hex>]",
      "Arguments: graft.operators.Multimodal$$$Lambda$7202/0x00007f388d92f800@3e6c8548, obj#12879: scala.Tuple2" ->
        "Arguments: graft.operators.Multimodal$$$Lambda$N/0x<hex>@<hex>, obj#N: scala.Tuple2",
      "Functions [1]: [simhashsketch(th#9235L, graft.functions.SimHashSketch@42e564fc, true, 0, None)]" ->
        "Functions [1]: [simhashsketch(th#NL, graft.functions.SimHashSketch@<hex>, true, 0, None)]",
      "Arguments: [exact_f2#601L], MapPartitionsRDD[31] at localCheckpoint at Materialize.scala:38, ExistingRDD" ->
        "Arguments: [exact_f2#NL], MapPartitionsRDD[N] at localCheckpoint at Materialize.scala:38, ExistingRDD")
    cases.foreach { case (line, masked) =>
      assert(ExplainDump.mask(line) === masked)
    }
    // a line with nothing run-dependent passes through unchanged
    val stable = "(3) Filter [codegen id : 1]"
    assert(ExplainDump.mask(stable) === stable)
    // masking is idempotent, so a masked dump can be masked again
    cases.foreach { case (_, masked) =>
      assert(ExplainDump.mask(masked) === masked)
    }
  }
}
