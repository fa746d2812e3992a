from mincemeatpy_spark.plans.inspect import executed_plan, plan_facts, scan_properties

__all__ = ["executed_plan", "plan_facts", "scan_properties"]
