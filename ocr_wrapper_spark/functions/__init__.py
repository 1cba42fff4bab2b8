"""Column-level helper expressions (pure JVM built-ins), plus the
stage-level span pandas UDFs in ``spans``."""
