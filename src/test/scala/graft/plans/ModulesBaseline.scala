package graft.plans

import org.apache.spark.sql.Dataset

import graft.core.{ExtractedModule, TurnExtraction}

/** The generic-encoder form of `ExtractPipeline.modules`: a typed flatMap
  * whose rows the derived `ExtractedModule` encoder serializes. Kept only
  * as the differential baseline of the `ModuleRows` plan node. */
object ModulesBaseline {
  def modules(ex: Dataset[TurnExtraction]): Dataset[ExtractedModule] = {
    val spark = ex.sparkSession
    import spark.implicits._
    ex.flatMap(_.modules)
  }
}
