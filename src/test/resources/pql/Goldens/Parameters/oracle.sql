SELECT EventId, DamageProperty, DamageProperty * 0.5::DOUBLE AS Half
FROM StormEvents
WHERE DamageProperty >= 5000 AND lower(State) = lower('TEXAS')
ORDER BY EventId ASC NULLS FIRST
