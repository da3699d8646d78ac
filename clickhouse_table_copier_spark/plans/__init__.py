"""Pure planning layer: partition specs, predicates, cast plans."""
