"""The driver JVM that ``get_spark`` launches runs the engine's compile
policy: every ``-XX:Name=value`` flag of the ``_DEFAULT_CONF``
``spark.driver.defaultJavaOptions`` entry is live in the JVM, read back
through HotSpot's diagnostic MXBean."""

from __future__ import annotations

from cyrela_etl_spark.session import _DEFAULT_CONF


def test_driver_jvm_runs_engine_compile_policy(spark):
    opts = _DEFAULT_CONF["spark.driver.defaultJavaOptions"].split()
    flags = dict(o.removeprefix("-XX:").split("=", 1) for o in opts)
    assert len(flags) == len(opts) == 4

    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    for name, value in flags.items():
        opt = bean.getVMOption(name)
        assert opt.getValue() == value, name
        assert opt.getOrigin().toString() != "DEFAULT", name
