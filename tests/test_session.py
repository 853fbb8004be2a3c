"""The driver JVM that ``get_spark`` starts carries the session's JVM flags.

Reads the JVM's own input arguments, so a flag that is set in the conf but
never reaches the process (or an edit of ``spark.driver.extraJavaOptions``
that drops one) fails here."""


def test_driver_jvm_flags(spark):
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(runtime.getInputArguments())
    assert "-Xmn256m" in args, args
    assert "-XX:ReservedCodeCacheSize=1g" in args, args
