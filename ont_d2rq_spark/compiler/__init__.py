from ont_d2rq_spark.compiler.relation import (
    CompiledBridge,
    MappingCompiler,
    NodeSpec,
    TRIPLE_SCHEMA,
)

__all__ = [
    "CompiledBridge",
    "MappingCompiler",
    "NodeSpec",
    "TRIPLE_SCHEMA",
]
