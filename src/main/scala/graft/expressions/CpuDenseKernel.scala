package graft.expressions

/** Marks a compiled kernel whose per-row work dominates the CPU of the
  * stage that evaluates it: pair/triple expansion of an aggregated
  * array, or the per-pair intersect count of set verification. Its
  * input is byte-small next to that work, so AQE's byte-driven
  * coalescing starves the stage of tasks. [[graft.plans.ExpansionFanout]]
  * reads this marker to pin such a stage's parallelism; the kernels
  * themselves carry no planning logic.
  */
trait CpuDenseKernel
