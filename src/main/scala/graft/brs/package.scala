package graft

import graft.planner.TopKResult

package object brs {
  /** A continuous BRS node's (or strip's) kernel result. */
  type GeoNodeResult = TopKResult[GeoRegion]
  val GeoNodeResult: TopKResult.type = TopKResult
}
