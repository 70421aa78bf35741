"""Python side of the graft benchmark: build, launch, checks, metrics."""
