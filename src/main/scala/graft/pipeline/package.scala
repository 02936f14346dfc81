package graft

package object pipeline {
  /** A typed chain whose output record types equal its input ones. */
  type TypedPipeline[K, V] = TypedPipeline2[K, V, K, V]
}
