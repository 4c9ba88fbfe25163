package graft.core

/** The small fixed shapes SURVEY §1.2 maps to typed Datasets — used
  * where type safety helps (model-as-relation rows);
  * everything schema-dynamic stays `DataFrame`.
  */
object Types {
  /** Linear-model coefficient row (transpiler.py:1529-1562). */
  final case class Coef(classId: Long, colId: Int, value: Double, intercept: Double)

  /** NN weight relation row (transpiler.py:1696-1729). */
  final case class NNWeight(layer: Int, row: Int, col: Int, value: Double, bias: Double)
}
