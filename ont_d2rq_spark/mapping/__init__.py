from ont_d2rq_spark.mapping.model import (
    Mapping,
    Database,
    ClassMap,
    PropertyBridge,
    TranslationTable,
    Join,
    Configuration,
    DownloadMap,
)

__all__ = [
    "Mapping",
    "Database",
    "ClassMap",
    "PropertyBridge",
    "TranslationTable",
    "Join",
    "Configuration",
    "DownloadMap",
]
