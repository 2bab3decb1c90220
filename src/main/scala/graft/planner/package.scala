package graft

package object planner {
  /** A discrete planner node's kernel result. */
  type NodeResult = TopKResult[Region]
  val NodeResult: TopKResult.type = TopKResult
}
