__all__ = ["LakeTable", "transform_expr"]


def __getattr__(name: str):
    # Resolved on first use so that the Spark-free modules of this
    # package (``snapshots``, ``pruning``) import without pulling in pyspark.
    if name == "LakeTable":
        from .table import LakeTable
        return LakeTable
    if name == "transform_expr":
        from .transforms import transform_expr
        return transform_expr
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
