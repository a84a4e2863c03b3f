SELECT EventId, State
FROM StormEvents
WHERE lower(State) = lower('KANSAS')
ORDER BY EventId ASC NULLS FIRST
