package org.apache.arrow.memory

/** RootAllocator construction with a chosen AllocationManager. Arrow's
  * config builder is a static of the package-private BaseAllocator,
  * which Java reaches as `RootAllocator.configBuilder()` and Scala only
  * from inside this package. */
object AllocatorBridge {
  def root(factory: AllocationManager.Factory, limit: Long): RootAllocator =
    new RootAllocator(BaseAllocator.configBuilder()
      .allocationManagerFactory(factory).maxAllocation(limit).build())
}
