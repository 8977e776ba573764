"""The fixed cost of a Python UDF task: `python tools/ab_time.py tools.python_task_floor`.

An identity `mapInPandas` over 64 rows in P = 1, 4 and 8 partitions, next
to the same projection in the JVM. The UDF body does nothing, so a
variant's time is its tasks' launch, worker hand-off and Arrow round trip;
`python_P` minus `jvm_P` is what P Python tasks add.
"""


def _python(p: int):
    def build(spark, sf_dir):
        # a local lambda: cloudpickle ships it by value, so workers need not
        # import this module
        return spark.range(0, 64, 1, p).mapInPandas(lambda batches: batches, schema="id long")
    return build


def _jvm(p: int):
    def build(spark, sf_dir):
        return spark.range(0, 64, 1, p).select("id")
    return build


VARIANTS = {f"{kind}_{p}": make(p)
            for p in (1, 4, 8) for kind, make in (("python", _python), ("jvm", _jvm))}
